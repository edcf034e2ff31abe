"""p6_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference pandas pipeline (VarenyaJ/P6),
re-expressed Spark-first.

Layout:
  session     — tuned SparkSession builder (AQE, Arrow, UTC, shuffle sizing)
  schemas     — explicit StructTypes for the five clinical sheet kinds
  loader      — header normalization + rename map + xlsx/CSV workbook sources
  audit       — the error-channel-as-data pattern (one ``issues`` projection
                per sheet: kept rows, and audit rows exploded from it)
  functions/  — native Column expressions for every reference scalar op
  operators/  — genotype/phenotype/clinical pipelines, packet assembly,
                dedup, similarity search, text analysis, multimodal plumbing
  sources/    — harness table readers, ontology flattener
  plans/      — the declared query surface (queries + DuckDB oracle SQL)
  streaming/  — Structured Streaming over the events table
"""

__version__ = "0.1.0"
