"""Genotype pipeline: workbook genotype sheet -> validated, exploded
Genotype records + audit rows.

Mirrors the reference row parser (src/P6/mapper.py:237-311) and the
Genotype dataclass constraints (src/P6/genotype.py:140-175) as one
declarative DataFrame flow:

  plan-time column check -> one projection that attaches every row's
  issues (HGVS/raw consistency J3, row-level validity P8) -> kept rows
  -> zip-truncation explode (G1) -> vocab mapping (F9/F10)

Reference semantics preserved exactly:
- ANY invalid zipped token pair, missing chromosome, or constraint
  violation drops the WHOLE row (all its exploded records), matching the
  parser's `return [], []` bail-outs.
- Tokens beyond the zip truncation are never validated (reference zips
  first, validates inside the loop).
- Missing email is defaulted BEFORE the email-format constraint.

Everything is Column logic; the records and the audit rows are two
readings of the same projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.audit import StageResult, issue, issue_audit, kept, reject_missing, with_issues
from p6_spark.functions.hgvs import hgvs_g_is_malformed, hgvs_raw_consistent
from p6_spark.functions.scalars import email_or_default, to_bool
from p6_spark.loader import promote_patient_id
from p6_spark.schemas import (
    ALLOWED_CHROM_ENCODINGS,
    EMAIL_PATTERN,
    GENOTYPE_KEY_COLUMNS,
    GENOTYPE_SCHEMA,
    INHERITANCE_MAP,
    VALID_ID_PATTERN,
    ZYGOSITY_MAP,
)


def _long_like(col: Column) -> Column:
    """int()-compatible coercion: integer strings directly; float-shaped
    strings only when integral (int(16177614.0) == 16177614)."""
    s = F.trim(col.cast("string"))
    direct = s.try_cast("long")
    via_double = s.try_cast("double")
    return F.coalesce(
        direct,
        F.when(via_double == F.floor(via_double), F.floor(via_double).cast("long")),
    )


def map_genotype_table(
    spark: SparkSession,
    df: DataFrame,
    sheet_name: str = "genotype",
    strict_variants: bool = False,
) -> StageResult:
    step = "map_genotype"
    # table-level rejection (reference src/P6/mapper.py:558-563)
    bail = reject_missing(spark, df, GENOTYPE_KEY_COLUMNS, GENOTYPE_SCHEMA, step, sheet_name)
    if bail is not None:
        return bail

    df = promote_patient_id(df, "genotype")
    df = df.withColumn("_seq", F.monotonically_increasing_id())

    # --- normalize (F3 email default, F4 chromosome canonicalization) ------
    # Reference parity for missing cells: parse_genotype_row stringifies
    # every value (src/P6/mapper.py:248-283), so a NaN chromosome becomes
    # 'nan' -> 'chrnan' (NOT 'Missing chromosome' — that fires only for
    # empty strings), and NaN zygosity/inheritance become the token 'nan'
    # -> 'Unrecognized ... code' error. Spark nulls model pandas NaN.
    chrom_raw = F.trim(F.coalesce(F.col("chromosome").cast("string"), F.lit("nan")))
    df = df.withColumn("contact_email", email_or_default(F.col("contact_email")))
    df = df.withColumn(
        "_chrom",
        F.when(F.lower(chrom_raw).startswith("chr"), chrom_raw).otherwise(
            F.concat(F.lit("chr"), chrom_raw)
        ),
    )

    # --- zip-truncation token pairs (G1) -----------------------------------
    z_tokens = F.transform(
        F.split(F.coalesce(F.col("zygosity").cast("string"), F.lit("nan")), "/"),
        lambda t: F.lower(F.trim(t)),
    )
    i_tokens = F.transform(
        F.split(F.coalesce(F.col("inheritance").cast("string"), F.lit("nan")), "/"),
        lambda t: F.lower(F.trim(t)),
    )
    pairs = F.filter(
        F.arrays_zip(z_tokens.alias("z"), i_tokens.alias("i")),
        lambda p: p["z"].isNotNull() & p["i"].isNotNull(),
    )
    df = df.withColumn("_pairs", pairs)

    # --- J3: HGVS vs raw coordinates (warn, or error under --strict) -------
    # check_hgvs_consistency (src/P6/mapper.py:561-575) first ERRORS on any
    # g. string its [^:]+ pattern cannot parse (every del/dup/ins, and
    # 'nan' from a missing cell) and returns early; only parseable strings
    # reach the mismatch comparison. Neither audit drops the row.
    malformed = issue(
        hgvs_g_is_malformed(F.col("hgvsg")),
        "error",
        F.concat(
            F.lit(f"Sheet '{sheet_name}': malformed HGVS g. notation '"),
            F.coalesce(F.trim(F.col("hgvsg").cast("string")), F.lit("nan")),
            F.lit("'"),
        ),
        drop=False,
    )
    consistent = hgvs_raw_consistent(
        F.col("hgvsg"),
        F.col("chromosome"),
        F.col("start_position"),
        F.col("end_position"),
        F.col("reference"),
        F.col("alternate"),
    )
    mismatch = issue(
        ~consistent,
        "error" if strict_variants else "warning",
        # reference msg format (src/P6/mapper.py:495-499): raw cell values
        # rendered as-is ('nan' for missing)
        F.concat(
            F.lit(f"Sheet '{sheet_name}': HGVS '"),
            F.coalesce(F.trim(F.col("hgvsg").cast("string")), F.lit("nan")),
            F.lit("' disagrees with raw ("),
            F.coalesce(F.col("chromosome").cast("string"), F.lit("nan")),
            F.lit(":"),
            F.coalesce(F.col("start_position").cast("string"), F.lit("nan")),
            F.lit("-"),
            F.coalesce(F.col("end_position").cast("string"), F.lit("nan")),
            F.lit(" "),
            F.coalesce(F.col("reference").cast("string"), F.lit("nan")),
            F.lit(">"),
            F.coalesce(F.col("alternate").cast("string"), F.lit("nan")),
            F.lit(")"),
        ),
        drop=False,
    )

    # --- row-level validity (P6op/P7/P8): replay the reference's per-row
    # failure ORDER and MESSAGES exactly (parse_genotype_row's pair loop +
    # Genotype.__post_init__, src/P6/mapper.py:247-311, genotype.py:140-170).
    # Per pair: zygosity code, inheritance code; then the pair-independent
    # checks fire at pair 0 (Missing chromosome, int() casts, post-init
    # constraints); a bad code in a LATER pair is reached only when every
    # row-level check passed.
    st = _long_like(F.col("start_position"))
    en = _long_like(F.col("end_position"))
    zlist, ilist = list(ZYGOSITY_MAP), list(INHERITANCE_MAP)

    def _bad_pair(p):
        return ~p["z"].isin(zlist) | ~p["i"].isin(ilist)

    first_bad = F.try_element_at(F.filter(F.col("_pairs"), _bad_pair), F.lit(1))
    pair0_bad = _bad_pair(F.try_element_at(F.col("_pairs"), F.lit(1)))
    pair_code_msg = F.when(
        ~first_bad["z"].isin(zlist),
        F.concat(F.lit("Unrecognized zygosity code '"), first_bad["z"], F.lit("'")),
    ).otherwise(
        F.concat(F.lit("Unrecognized inheritance code '"), first_bad["i"], F.lit("'"))
    )

    id_str = F.coalesce(F.col("genotype_patient_ID").cast("string"), F.lit("nan"))
    chrom_ok = F.lower(F.col("_chrom")).startswith("chr") | F.lower(F.col("_chrom")).isin(
        list(ALLOWED_CHROM_ENCODINGS)
    )

    def _int_fail(col_name, parsed):
        """Mirror int(row[...]): NaN cell vs unparseable string messages."""
        raw = F.col(col_name)
        s = F.trim(raw.cast("string"))
        return (
            F.when(raw.isNull(), F.lit("cannot convert float NaN to integer")),
            F.when(
                parsed.isNull() & raw.isNotNull(),
                F.concat(
                    F.lit("invalid literal for int() with base 10: '"), s, F.lit("'")
                ),
            ),
        )

    st_nan, st_lit = _int_fail("start_position", st)
    en_nan, en_lit = _int_fail("end_position", en)

    def _empty(c):
        return F.trim(F.coalesce(F.col(c).cast("string"), F.lit("nan"))) == ""

    fail_reason = (
        F.when(first_bad.isNotNull() & pair0_bad, pair_code_msg)
        .when(chrom_raw == "", F.lit("Missing chromosome"))
        .when(st_nan.isNotNull(), st_nan)
        .when(st_lit.isNotNull(), st_lit)
        .when(en_nan.isNotNull(), en_nan)
        .when(en_lit.isNotNull(), en_lit)
        .when(
            # str(NaN) == 'nan' matches _VALID_ID in the reference, so a
            # missing ID yields a 'nan'-keyed record — bug-compatible.
            ~id_str.rlike(VALID_ID_PATTERN),
            F.concat(F.lit("Invalid patient ID: '"), id_str, F.lit("'")),
        )
        .when(
            ~F.col("contact_email").rlike(EMAIL_PATTERN),
            F.concat(
                F.lit("Invalid contact email: '"), F.col("contact_email"), F.lit("'")
            ),
        )
        .when(
            ~chrom_ok,
            F.concat(F.lit("Unrecognized chromosome: '"), F.col("_chrom"), F.lit("'")),
        )
        .when(
            st < 0,
            F.concat(
                F.lit("start_position must be a non-negative integer, got "),
                st.cast("string"),
            ),
        )
        .when(
            en < 0,
            F.concat(
                F.lit("end_position must be a non-negative integer, got "),
                en.cast("string"),
            ),
        )
        .when(_empty("reference"), F.lit("reference must be a nonempty string"))
        .when(_empty("alternate"), F.lit("alternate must be a nonempty string"))
        .when(_empty("gene_symbol"), F.lit("gene_symbol must be a nonempty string"))
        .when(_empty("hgvsg"), F.lit("hgvsg must be a nonempty string"))
        .when(_empty("hgvsc"), F.lit("hgvsc must be a nonempty string"))
        .when(_empty("hgvsp"), F.lit("hgvsp must be a nonempty string"))
        .when(first_bad.isNotNull(), pair_code_msg)
    )
    checked = with_issues(
        df.withColumn("_fail", fail_reason),
        malformed,
        mismatch,
        issue(
            F.col("_fail").isNotNull(),
            "error",
            F.concat(F.lit(f"Sheet '{sheet_name}': "), F.col("_fail")),
        ),
    )

    # --- explode + vocab map (F9/F10) --------------------------------------
    z_map = F.create_map(*[F.lit(x) for kv in ZYGOSITY_MAP.items() for x in kv])
    i_map = F.create_map(*[F.lit(x) for kv in INHERITANCE_MAP.items() for x in kv])
    records = (
        kept(checked).select(
            "_seq",
            F.coalesce(F.col("genotype_patient_ID").cast("string"), F.lit("nan")).alias(
                "genotype_patient_ID"
            ),
            "contact_email",
            to_bool(F.col("phasing")).alias("phasing"),
            F.col("_chrom").alias("chromosome"),
            st.alias("start_position"),
            en.alias("end_position"),
            F.col("reference").cast("string").alias("reference"),
            F.col("alternate").cast("string").alias("alternate"),
            F.col("gene_symbol").cast("string").alias("gene_symbol"),
            F.col("hgvsg").cast("string").alias("hgvsg"),
            F.col("hgvsc").cast("string").alias("hgvsc"),
            F.col("hgvsp").cast("string").alias("hgvsp"),
            F.posexplode(F.col("_pairs")).alias("_pos", "_pair"),
        )
        .withColumn("zygosity", z_map[F.col("_pair.z")])
        .withColumn("inheritance", i_map[F.col("_pair.i")])
        .drop("_pair")
    )
    return StageResult(
        valid=records, audit=issue_audit(checked, step, sheet_name), checked=checked
    )
