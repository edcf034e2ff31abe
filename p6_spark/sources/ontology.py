"""Ontology as data: the HPO ontology flattened to a DataFrame
``(term_id, name, is_obsolete, alt_term_ids, ancestors)`` so every
ontology check becomes a broadcast join instead of a per-row Python
callback (reference: hpotk MinimalOntology loaded once and consulted
row-by-row, src/P6/mapper.py:380-397,426-440).

Every loader builds the table from a ``pyarrow.Table``
(``session.local_frame``): Spark decodes it once, in the JVM, into a
``LocalRelation``, so no action replays a Python ``parallelize`` to read
it. The table is tiny (~19k HPO terms) and broadcasts to every executor
once; validation of a phenotype stream is then a map-side hash join — no
Python, no network.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from p6_spark.session import local_frame

PHENOTYPIC_ABNORMALITY_ROOT = "HP:0000118"

ONTOLOGY_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("is_obsolete", T.BooleanType(), False),
        T.StructField("alt_term_ids", T.ArrayType(T.StringType()), True),
        T.StructField("ancestors", T.ArrayType(T.StringType()), True),
    ]
)


def ontology_from_records(spark: SparkSession, records: list[tuple]) -> DataFrame:
    """Build the term table from plain tuples (tests / fixtures)."""
    return local_frame(spark, records, ONTOLOGY_SCHEMA)


def ontology_from_obographs(spark: SparkSession, path: str) -> DataFrame:
    """Parse an HPO obographs JSON-LD file (hp.json / hp.json.gz — the
    exact artifact the reference downloads and feeds hpotk,
    src/P6/__main__.py:247-249) into the term table using ONLY stdlib
    json/gzip. Term ids come from the OBO PURLs (``.../HP_0000118`` ->
    ``HP:0000118``), names from ``lbl``, obsolescence from
    ``meta.deprecated``, alternative ids from the
    ``oboInOwl#hasAlternativeId`` basic property values (what hpotk
    surfaces as ``term.alt_term_ids``), and ancestors as the transitive
    closure of ``is_a`` edges (proper ancestors, self excluded — hpotk
    ``graph.get_ancestors`` semantics). Driver-side one-time load; the
    resulting ~19k-row table is an Arrow-backed ``LocalRelation`` that
    broadcasts."""
    import gzip
    import json

    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as f:
        graph = json.load(f)["graphs"][0]

    def curie(uri: str) -> str | None:
        tail = uri.rsplit("/", 1)[-1]
        if tail.startswith("HP_"):
            return "HP:" + tail[3:]
        return None

    ALT_PRED = "http://www.geneontology.org/formats/oboInOwl#hasAlternativeId"
    terms: dict[str, tuple[str | None, bool, list[str]]] = {}
    for node in graph["nodes"]:
        if node.get("type") != "CLASS":
            continue
        tid = curie(node.get("id", ""))
        if tid is None:
            continue
        meta = node.get("meta", {})
        alt = [
            bpv["val"]
            for bpv in meta.get("basicPropertyValues", [])
            if bpv.get("pred") == ALT_PRED
        ]
        terms[tid] = (node.get("lbl"), bool(meta.get("deprecated", False)), alt)

    parents: dict[str, list[str]] = {}
    for e in graph["edges"]:
        if e.get("pred") != "is_a":
            continue
        s, o = curie(e["sub"]), curie(e["obj"])
        if s is not None and o is not None:
            parents.setdefault(s, []).append(o)

    memo: dict[str, frozenset[str]] = {}

    def ancestors(tid: str) -> frozenset[str]:
        got = memo.get(tid)
        if got is not None:
            return got
        memo[tid] = frozenset()  # cycle guard (is_a is acyclic in practice)
        acc: set[str] = set()
        for p in parents.get(tid, ()):
            acc.add(p)
            acc |= ancestors(p)
        memo[tid] = frozenset(acc)
        return memo[tid]

    rows = [
        (tid, name, obsolete, alt, sorted(ancestors(tid)))
        for tid, (name, obsolete, alt) in terms.items()
    ]
    return local_frame(spark, rows, ONTOLOGY_SCHEMA)


def ontology_from_hpotk(spark: SparkSession, path: str) -> DataFrame:
    """Flatten an hpotk MinimalOntology (JSON/.json.gz) to the term table.
    Driver-side one-time load (reference src/P6/__main__.py:247-249),
    gated behind import-try — hpotk is optional."""
    try:
        import hpotk
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "hpotk is not installed; build the term table another way "
            "(ontology_from_records) or install hpotk"
        ) from e
    onto = hpotk.load_minimal_ontology(path)
    rows = []
    for term in onto.terms:
        tid = term.identifier.value
        ancestors = [a.value for a in onto.graph.get_ancestors(term.identifier)]
        alt = [a.value for a in term.alt_term_ids]
        rows.append((tid, term.name, bool(term.is_obsolete), alt, ancestors))
    return local_frame(spark, rows, ONTOLOGY_SCHEMA)
