"""Queries demonstrating the reference's (P6) operator semantics over the
harness tables, each with a DuckDB oracle.

The clinical pipelines themselves run on workbook-shaped fixture tables in
tests/ (mirroring the reference's own test strategy, SURVEY §5); these
queries run reference operators on deterministic columns synthesized from
the harness tables so the DuckDB oracle can hash-check them.

Only some of them prove the Column expressions the pipelines run:
time normalization (F1, ``normalize_time_like``), bool coercion (F2,
``to_bool``), the email default (F3, ``email_or_default``), HPO cell
parsing (F5/F6, ``is_nad``/``hpo_label``/``hpo_curie``), HGVS
consistency and normalization (F7/J3, ``hgvs_raw_consistent``,
``hgvs_g_normalize``), the GENO codes (F10, ``geno_code_for_zygosity``)
and the vocabularies (``schemas.ZYGOSITY_MAP``/``INHERITANCE_MAP``) are
what ``operators/`` uses too. The rest restate a pipeline step:

- ``p6_chromosome_email`` checks ``canonical_chromosome`` (F4), but
  ``operators/genotype.py`` builds its chromosome inline, and a missing
  one becomes ``'chrnan'`` there, not NULL.
- ``p6_zip_explode`` looks the vocabularies up with ``map_lookup`` (F9);
  the pipeline builds its own ``create_map``. The zip-truncation explode
  (G1) is the same shape, not the same code.
- ``p6_audit_split`` uses its own email regex, not
  ``schemas.EMAIL_PATTERN``, and its own valid/invalid rule column, not
  ``audit.with_issues`` (§2.9).
- ``p6_packet_nest`` shows the collect_list nesting shape (G2/J1); it
  does not call ``operators.packet.assemble_phenopackets``.

Reference spans cited per query. All expressions are JVM-side Column
logic: at 100 TB these run inside whole-stage codegen with zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.functions.hgvs import hgvs_g_normalize, hgvs_raw_consistent
from p6_spark.functions.hpo import hpo_curie, hpo_label, is_nad
from p6_spark.functions.scalars import (
    canonical_chromosome,
    email_or_default,
    geno_code_for_zygosity,
    map_lookup,
    normalize_time_like,
    to_bool,
)
from p6_spark.plans.registry import register
from p6_spark.schemas import INHERITANCE_MAP, ZYGOSITY_MAP
from p6_spark.sources.tables import load_table


@register(
    "p6_time_normalize",
    oracle="""
WITH raw AS (
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN NULL
           WHEN 1 THEN '  '
           WHEN 2 THEN 'T' || cast(doc_id AS varchar)
           WHEN 3 THEN cast(n_chars AS varchar)
           WHEN 4 THEN 'visit' || cast(doc_id % 7 AS varchar)
           ELSE cast(doc_id % 100 AS varchar)
         END AS raw_ts
  FROM documents
)
SELECT doc_id, raw_ts,
       CASE WHEN raw_ts IS NULL OR trim(raw_ts) = '' THEN ''
            WHEN try_cast(trim(raw_ts) AS bigint) IS NOT NULL
              THEN 'T' || cast(try_cast(trim(raw_ts) AS bigint) AS varchar)
            WHEN upper(trim(raw_ts)) LIKE 'T%' THEN trim(raw_ts)
            ELSE 'T' || trim(raw_ts)
       END AS normalized
FROM raw
ORDER BY doc_id
""",
    doc="F1 _normalize_time_like (reference src/P6/mapper.py:196-216): "
    "null/blank -> '', numeric -> 'T<int>', else prefix 'T' unless present.",
    tags=("p6", "scalar"),
)
def p6_time_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 6
    raw = (
        F.when(m == 0, F.lit(None).cast("string"))
        .when(m == 1, F.lit("  "))
        .when(m == 2, F.concat(F.lit("T"), F.col("doc_id").cast("string")))
        .when(m == 3, F.col("n_chars").cast("string"))
        .when(m == 4, F.concat(F.lit("visit"), (F.col("doc_id") % 7).cast("string")))
        .otherwise((F.col("doc_id") % 100).cast("string"))
    )
    return (
        docs.withColumn("raw_ts", raw)
        .select("doc_id", "raw_ts", normalize_time_like(F.col("raw_ts")).alias("normalized"))
        .orderBy("doc_id")
    )


@register(
    "p6_to_bool",
    oracle="""
WITH raw AS (
  SELECT event_id,
         CASE event_id % 8
           WHEN 0 THEN '1'     WHEN 1 THEN 'no'
           WHEN 2 THEN 'O'     WHEN 3 THEN 'E'
           WHEN 4 THEN ''      WHEN 5 THEN 'Phased'
           WHEN 6 THEN 'FALSE' ELSE NULL
         END AS raw_flag
  FROM events WHERE event_id < 400
)
SELECT coalesce(raw_flag, '<null>') AS raw_flag,
       CASE WHEN raw_flag IS NULL THEN true
            WHEN lower(trim(raw_flag)) IN ('1','true','t','yes','y') THEN true
            WHEN lower(trim(raw_flag)) IN ('0','false','f','no','n','') THEN false
            ELSE length(lower(trim(raw_flag))) > 0
       END AS as_bool,
       count(*) AS n
FROM raw
GROUP BY 1, 2
ORDER BY raw_flag, as_bool
""",
    doc="F2 _to_bool truthiness fallback (reference src/P6/mapper.py:218-235): "
    "'O','E','Phased' are all True via the fallback — the bug-compatible "
    "semantic the real workbooks rely on (SURVEY §5.3). Null is True too: "
    "a missing pandas cell is NaN, str 'nan' is in neither set, and "
    "bool(nan) is True.",
    tags=("p6", "scalar"),
)
def p6_to_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 400)
    m = F.col("event_id") % 8
    raw = (
        F.when(m == 0, F.lit("1"))
        .when(m == 1, F.lit("no"))
        .when(m == 2, F.lit("O"))
        .when(m == 3, F.lit("E"))
        .when(m == 4, F.lit(""))
        .when(m == 5, F.lit("Phased"))
        .when(m == 6, F.lit("FALSE"))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        ev.withColumn("raw_flag", raw)
        .groupBy(
            F.coalesce(F.col("raw_flag"), F.lit("<null>")).alias("raw_flag"),
            to_bool(F.col("raw_flag")).alias("as_bool"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("raw_flag", "as_bool")
    )


@register(
    "p6_chromosome_email",
    oracle="""
WITH raw AS (
  SELECT c_custkey,
         CASE c_custkey % 4
           WHEN 0 THEN 'chr' || cast(c_custkey % 22 + 1 AS varchar)
           WHEN 1 THEN cast(c_custkey % 22 + 1 AS varchar)
           WHEN 2 THEN 'X'
           ELSE NULL
         END AS chrom,
         CASE WHEN c_custkey % 3 = 0 THEN NULL
              ELSE 'user' || cast(c_custkey AS varchar) || '@example.com' END AS email
  FROM customer
)
SELECT c_custkey,
       CASE WHEN chrom IS NULL OR trim(chrom) = '' THEN NULL
            WHEN lower(trim(chrom)) LIKE 'chr%' THEN trim(chrom)
            ELSE 'chr' || trim(chrom)
       END AS chromosome,
       CASE WHEN email IS NULL
            THEN 'unknown@example.com' ELSE trim(email) END AS contact_email
FROM raw
ORDER BY c_custkey
""",
    doc="F3 email default (reference src/P6/mapper.py:272-276) + F4 "
    "chromosome canonicalization (src/P6/mapper.py:278-285).",
    tags=("p6", "scalar"),
)
def p6_chromosome_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    m = F.col("c_custkey") % 4
    chrom = (
        F.when(m == 0, F.concat(F.lit("chr"), (F.col("c_custkey") % 22 + 1).cast("string")))
        .when(m == 1, (F.col("c_custkey") % 22 + 1).cast("string"))
        .when(m == 2, F.lit("X"))
        .otherwise(F.lit(None).cast("string"))
    )
    email = F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("user"), F.col("c_custkey").cast("string"), F.lit("@example.com"))
    )
    return (
        cust.withColumn("chrom", chrom)
        .withColumn("email", email)
        .select(
            "c_custkey",
            canonical_chromosome(F.col("chrom")).alias("chromosome"),
            email_or_default(F.col("email")).alias("contact_email"),
        )
        .orderBy("c_custkey")
    )


@register(
    "p6_hpo_parse",
    oracle="""
WITH raw AS (
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN 'HP:' || cast(doc_id % 9000 + 100 AS varchar)
           WHEN 1 THEN 'hp ' || cast(doc_id % 9000 + 100 AS varchar)
           WHEN 2 THEN 'Some label (HP:' || cast(doc_id % 9000 + 100 AS varchar) || ')'
           WHEN 3 THEN 'Rod-cone dystrophy HP:' || cast(doc_id % 9000 + 100 AS varchar) || ' '
           WHEN 4 THEN cast(doc_id % 9000 + 100 AS varchar)
           ELSE 'NAD'
         END AS cell
  FROM documents
),
parsed AS (
  SELECT doc_id, cell,
         trim(regexp_extract(trim(replace(cell, chr(160), ' ')),
              '^\\s*(.*?)[\\s]*\\(?(?:[Hh][Pp][:\\s]?)?([0-9]+)\\)?[\\s]*$', 1)) AS label,
         regexp_extract(trim(replace(cell, chr(160), ' ')),
              '^\\s*(.*?)[\\s]*\\(?(?:[Hh][Pp][:\\s]?)?([0-9]+)\\)?[\\s]*$', 2) AS digits
  FROM raw
  WHERE upper(trim(cell)) <> 'NAD'
)
SELECT doc_id, label,
       CASE WHEN digits = '' THEN NULL
            ELSE 'HP:' || lpad(digits, 7, '0') END AS hpo_id
FROM parsed
ORDER BY doc_id
""",
    doc="F5/F6 HPO cell parse + CURIE zero-padding (reference "
    "src/P6/mapper.py:336-358) and P4 NAD row filter (src/P6/mapper.py:330-334). "
    "Handles label+ID combos, 'hp 0100753' form, bare digits, parens.",
    tags=("p6", "scalar", "filter"),
)
def p6_hpo_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 6
    digits = (F.col("doc_id") % 9000 + 100).cast("string")
    cell = (
        F.when(m == 0, F.concat(F.lit("HP:"), digits))
        .when(m == 1, F.concat(F.lit("hp "), digits))
        .when(m == 2, F.concat(F.lit("Some label (HP:"), digits, F.lit(")")))
        .when(m == 3, F.concat(F.lit("Rod-cone dystrophy HP:"), digits, F.lit(" ")))
        .when(m == 4, digits)
        .otherwise(F.lit("NAD"))
    )
    return (
        docs.withColumn("cell", cell)
        .filter(~is_nad(F.col("cell")))
        .select(
            "doc_id",
            hpo_label(F.col("cell")).alias("label"),
            hpo_curie(F.col("cell")).alias("hpo_id"),
        )
        .orderBy("doc_id")
    )


@register(
    "p6_zip_explode",
    oracle="""
WITH raw AS (
  SELECT p_partkey,
         CASE p_partkey % 4
           WHEN 0 THEN 'het'
           WHEN 1 THEN 'het/hom'
           WHEN 2 THEN 'het/hom/comphet/hemi/mosaic'
           ELSE 'hom/het'
         END AS zygosity,
         CASE p_partkey % 3
           WHEN 0 THEN 'inherited'
           WHEN 1 THEN 'inherited/denovo'
           ELSE 'unknown/inherited/denovo'
         END AS inheritance
  FROM part WHERE p_partkey < 600
),
exploded AS (
  SELECT p_partkey,
         unnest(string_split(zygosity, '/')) AS z_tok,
         unnest(string_split(inheritance, '/')) AS i_tok
  FROM raw
)
SELECT p_partkey,
       CASE lower(trim(z_tok)) WHEN 'het' THEN 'heterozygous' WHEN 'hom' THEN 'homozygous'
            WHEN 'comphet' THEN 'compound_heterozygosity' WHEN 'hemi' THEN 'hemizygous'
            WHEN 'mosaic' THEN 'mosaic' END AS zygosity,
       CASE lower(trim(i_tok)) WHEN 'unknown' THEN 'unknown' WHEN 'inherited' THEN 'inherited'
            WHEN 'denovo' THEN 'de_novo_mutation' END AS inheritance,
       CASE lower(trim(z_tok)) WHEN 'het' THEN 'GENO:0000135' WHEN 'hom' THEN 'GENO:0000134'
            WHEN 'comphet' THEN 'GENO:0000191' WHEN 'hemi' THEN 'GENO:0000136'
            WHEN 'mosaic' THEN 'GENO:0000150' END AS allelic_state
FROM exploded
WHERE z_tok IS NOT NULL AND i_tok IS NOT NULL
ORDER BY p_partkey, zygosity, inheritance
""",
    doc="G1 zygosity x inheritance row explosion with zip-TRUNCATION "
    "semantics (reference src/P6/mapper.py:247-260): arrays_zip pads with "
    "null, so filtering both-non-null reproduces Python zip truncation "
    "exactly (5 zygosity x 3 inheritance tokens -> 3 rows). Plus F10 vocab "
    "maps (src/P6/mapper.py:67-80) and F9 GENO codes (src/P6/genotype.py:58-64).",
    tags=("p6", "explode"),
)
def p6_zip_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 600)
    mz = F.col("p_partkey") % 4
    mi = F.col("p_partkey") % 3
    zyg = (
        F.when(mz == 0, F.lit("het"))
        .when(mz == 1, F.lit("het/hom"))
        .when(mz == 2, F.lit("het/hom/comphet/hemi/mosaic"))
        .otherwise(F.lit("hom/het"))
    )
    inh = (
        F.when(mi == 0, F.lit("inherited"))
        .when(mi == 1, F.lit("inherited/denovo"))
        .otherwise(F.lit("unknown/inherited/denovo"))
    )
    pair = F.explode(F.arrays_zip(F.split(zyg, "/").alias("z"), F.split(inh, "/").alias("i")))
    canon_z = map_lookup(F.col("pair.z"), ZYGOSITY_MAP)
    canon_i = map_lookup(F.col("pair.i"), INHERITANCE_MAP)
    return (
        part.select("p_partkey", pair.alias("pair"))
        # both-non-null filter == Python zip truncation (SURVEY §2.4 G1 trap)
        .filter(F.col("pair.z").isNotNull() & F.col("pair.i").isNotNull())
        .select(
            "p_partkey",
            canon_z.alias("zygosity"),
            canon_i.alias("inheritance"),
            geno_code_for_zygosity(canon_z).alias("allelic_state"),
        )
        .orderBy("p_partkey", "zygosity", "inheritance")
    )


@register(
    "p6_hgvs_consistency",
    oracle="""
WITH raw AS (
  SELECT l_orderkey * 10 + l_linenumber AS row_id,
         cast(l_partkey % 22 + 1 AS varchar) AS chrom_num,
         l_orderkey % 100000 + 1 AS pos,
         ['A','C','G','T'][(l_partkey % 4) + 1] AS ref,
         ['G','T','A','C'][(l_suppkey % 4) + 1] AS alt,
         l_orderkey % 5 AS variant,
         l_suppkey % 4 AS coord_mode
  FROM lineitem WHERE l_orderkey < 3000
),
built AS (
  SELECT row_id,
         CASE WHEN variant = 4 THEN 'chr' ELSE '' END
           || chrom_num || ':g.' || cast(pos AS varchar) || lower(ref) || '>' || alt AS hgvsg,
         CASE WHEN variant = 3 THEN 'chrZZ' ELSE 'chr' || chrom_num END AS chromosome,
         CASE WHEN coord_mode = 0 THEN pos       -- 1-based
              WHEN coord_mode = 1 THEN pos - 1   -- BED-like
              WHEN coord_mode = 2 THEN pos + 7   -- inconsistent
              ELSE pos END AS start_position,
         CASE WHEN coord_mode = 2 THEN pos + 8 ELSE pos END AS end_position,
         ref AS reference, alt AS alternate
  FROM raw
),
parsed AS (
  SELECT *,
         regexp_extract(hgvsg, '^(?:[Cc][Hh][Rr])?([0-9XYMTxymt]+):[gG]\\.([0-9]+)([ACGTacgt]+)>([ACGTacgt]+)$', 1) AS g_chrom,
         try_cast(regexp_extract(hgvsg, '^(?:[Cc][Hh][Rr])?([0-9XYMTxymt]+):[gG]\\.([0-9]+)([ACGTacgt]+)>([ACGTacgt]+)$', 2) AS bigint) AS g_pos,
         upper(regexp_extract(hgvsg, '^(?:[Cc][Hh][Rr])?([0-9XYMTxymt]+):[gG]\\.([0-9]+)([ACGTacgt]+)>([ACGTacgt]+)$', 3)) AS g_ref,
         upper(regexp_extract(hgvsg, '^(?:[Cc][Hh][Rr])?([0-9XYMTxymt]+):[gG]\\.([0-9]+)([ACGTacgt]+)>([ACGTacgt]+)$', 4)) AS g_alt
  FROM built
),
flagged AS (
  SELECT row_id,
         CASE WHEN g_chrom <> '' THEN
           lower(g_chrom) = lower(regexp_replace(trim(chromosome), '^[Cc][Hh][Rr]', ''))
           AND ((start_position = g_pos AND end_position = g_pos)
                OR (start_position = g_pos - 1 AND end_position = g_pos))
           AND upper(trim(reference)) = g_ref AND upper(trim(alternate)) = g_alt
         ELSE true END AS consistent,
         CASE WHEN g_chrom <> '' THEN
           g_chrom || ':g.' || cast(g_pos AS varchar) || g_ref || '>' || g_alt
         ELSE regexp_replace(trim(hgvsg), '^[Cc][Hh][Rr]', '') END AS normalized_hgvsg
  FROM parsed
)
SELECT consistent, count(*) AS n, min(normalized_hgvsg) AS min_hgvs, max(normalized_hgvsg) AS max_hgvs
FROM flagged
GROUP BY consistent
ORDER BY consistent
""",
    doc="F7 HGVS g. parse/normalize (reference src/P6/genotype.py:67-77,252-270) "
    "+ J3 HGVS-vs-raw-coordinate theta predicate incl. the BED-like OR branch "
    "(src/P6/mapper.py:444-500). Pure column expressions — no join, no UDF.",
    tags=("p6", "scalar", "predicate"),
)
def p6_hgvs_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 3000)
    refs = F.array(F.lit("A"), F.lit("C"), F.lit("G"), F.lit("T"))
    alts = F.array(F.lit("G"), F.lit("T"), F.lit("A"), F.lit("C"))
    pos = F.col("l_orderkey") % 100000 + 1
    variant = F.col("l_orderkey") % 5
    coord_mode = F.col("l_suppkey") % 4
    chrom_num = (F.col("l_partkey") % 22 + 1).cast("string")
    ref = refs[(F.col("l_partkey") % 4).cast("int")]
    alt = alts[(F.col("l_suppkey") % 4).cast("int")]
    df = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        F.concat(
            F.when(variant == 4, F.lit("chr")).otherwise(F.lit("")),
            chrom_num,
            F.lit(":g."),
            pos.cast("string"),
            F.lower(ref),
            F.lit(">"),
            alt,
        ).alias("hgvsg"),
        F.when(variant == 3, F.lit("chrZZ"))
        .otherwise(F.concat(F.lit("chr"), chrom_num))
        .alias("chromosome"),
        F.when(coord_mode == 0, pos)
        .when(coord_mode == 1, pos - 1)
        .when(coord_mode == 2, pos + 7)
        .otherwise(pos)
        .alias("start_position"),
        F.when(coord_mode == 2, pos + 8).otherwise(pos).alias("end_position"),
        ref.alias("reference"),
        alt.alias("alternate"),
    )
    flagged = df.select(
        "row_id",
        hgvs_raw_consistent(
            F.col("hgvsg"),
            F.col("chromosome"),
            F.col("start_position"),
            F.col("end_position"),
            F.col("reference"),
            F.col("alternate"),
        ).alias("consistent"),
        hgvs_g_normalize(F.col("hgvsg")).alias("normalized_hgvsg"),
    )
    return (
        flagged.groupBy("consistent")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("normalized_hgvsg").alias("min_hgvs"),
            F.max("normalized_hgvsg").alias("max_hgvs"),
        )
        .orderBy("consistent")
    )


@register(
    "p6_audit_split",
    oracle="""
WITH raw AS (
  SELECT s_suppkey,
         CASE WHEN s_suppkey % 7 = 0 THEN 'P-' || cast(s_suppkey AS varchar)
              ELSE 'P' || cast(s_suppkey AS varchar) END AS patient_id,
         CASE WHEN s_suppkey % 5 = 0 THEN 'not-an-email'
              ELSE 'u' || cast(s_suppkey AS varchar) || '@example.com' END AS email,
         CASE WHEN s_suppkey % 11 = 0 THEN 'badzyg' ELSE 'het' END AS zygosity
  FROM supplier
),
checked AS (
  SELECT s_suppkey,
         regexp_matches(patient_id, '^[A-Za-z0-9]+$') AS id_ok,
         regexp_matches(email, '^[^@\\s]+@[^@\\s]+\\.[^@\\s]+$') AS email_ok,
         lower(zygosity) IN ('het','hom','comphet','hemi','mosaic') AS zyg_ok
  FROM raw
)
SELECT 'genotype' AS sheet,
       CASE WHEN NOT id_ok THEN 'error' WHEN NOT email_ok THEN 'error'
            WHEN NOT zyg_ok THEN 'error' ELSE 'ok' END AS level,
       CASE WHEN NOT id_ok THEN 'invalid_patient_id'
            WHEN NOT email_ok THEN 'invalid_email'
            WHEN NOT zyg_ok THEN 'invalid_zygosity'
            ELSE 'valid' END AS rule,
       count(*) AS n
FROM checked
GROUP BY 1, 2, 3
ORDER BY sheet, level, rule
""",
    doc="P8/§2.9 the error-channel-as-data pattern (reference threads a "
    "stairval Notepad through everything, src/P6/mapper.py:262-270 etc.): "
    "rows are classified against validity predicates; failures become audit "
    "rows (drop the ROW, never the RUN), successes flow on. First failing "
    "rule wins, mirroring the reference's sequential checks.",
    tags=("p6", "audit", "filter"),
)
def p6_audit_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    pid = F.when(
        F.col("s_suppkey") % 7 == 0, F.concat(F.lit("P-"), F.col("s_suppkey").cast("string"))
    ).otherwise(F.concat(F.lit("P"), F.col("s_suppkey").cast("string")))
    email = F.when(F.col("s_suppkey") % 5 == 0, F.lit("not-an-email")).otherwise(
        F.concat(F.lit("u"), F.col("s_suppkey").cast("string"), F.lit("@example.com"))
    )
    zyg = F.when(F.col("s_suppkey") % 11 == 0, F.lit("badzyg")).otherwise(F.lit("het"))
    checked = sup.select(
        "s_suppkey",
        pid.rlike(r"^[A-Za-z0-9]+$").alias("id_ok"),
        email.rlike(r"^[^@\s]+@[^@\s]+\.[^@\s]+$").alias("email_ok"),
        F.lower(zyg).isin(list(ZYGOSITY_MAP)).alias("zyg_ok"),
    )
    level = (
        F.when(~F.col("id_ok"), F.lit("error"))
        .when(~F.col("email_ok"), F.lit("error"))
        .when(~F.col("zyg_ok"), F.lit("error"))
        .otherwise(F.lit("ok"))
    )
    rule = (
        F.when(~F.col("id_ok"), F.lit("invalid_patient_id"))
        .when(~F.col("email_ok"), F.lit("invalid_email"))
        .when(~F.col("zyg_ok"), F.lit("invalid_zygosity"))
        .otherwise(F.lit("valid"))
    )
    return (
        checked.groupBy(F.lit("genotype").alias("sheet"), level.alias("level"), rule.alias("rule"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("sheet", "level", "rule")
    )


@register(
    "p6_packet_nest",
    oracle="""
SELECT o_custkey AS patient_key,
       count(*) AS n_records,
       count(DISTINCT o_orderstatus) AS n_statuses,
       min(o_orderkey) AS first_record,
       max(o_orderkey) AS last_record
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 12
ORDER BY patient_key
""",
    doc="G2/J1 packet-assembly shape (reference src/P6/mapper.py:759-821): "
    "groupBy(patient).agg(collect_list(struct(...))) builds the nested "
    "document; scalar projections of the sorted array (size, first/last "
    "element) keep the result oracle-hashable. The full nested JSON path is "
    "exercised in tests/test_packet.py on workbook fixtures.",
    tags=("p6", "nest", "agg"),
)
def p6_packet_nest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    nested = orders.groupBy(F.col("o_custkey").alias("patient_key")).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s")))
        ).alias("records")
    )
    return (
        nested.select(
            "patient_key",
            F.size("records").alias("n_records"),
            F.size(F.array_distinct(F.transform(F.col("records"), lambda r: r["s"]))).alias(
                "n_statuses"
            ),
            F.element_at(F.col("records"), 1)["k"].alias("first_record"),
            F.element_at(F.col("records"), -1)["k"].alias("last_record"),
        )
        .filter(F.col("n_records") >= 12)
        .orderBy("patient_key")
    )
