"""CLI mirroring the reference's entry points (src/P6/__main__.py):

  p6x parse-excel <workbook> [-o DIR] [--strict-variants] [--hpo PATH] [-r]
  p6x audit-excel <workbook> [--json]
  p6x download [--tag TAG] [-o DIR]

A "workbook" is an .xlsx file (read by the stdlib zipfile/xml parser in
sources/xlsx.py — no openpyxl needed) or a directory of CSVs. Exit code
is 0 even when rows were rejected —
the issue report is printed, matching the reference's
error-channel-not-abort contract (src/P6/__main__.py:258-268).
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import sys


def cmd_parse_excel(args: argparse.Namespace) -> int:
    from p6_spark.loader import load_workbook
    from p6_spark.mapper import apply_mapping
    from p6_spark.operators.packet import write_packet_files
    from p6_spark.session import get_spark

    spark = get_spark("p6x")
    tables = load_workbook(spark, args.workbook)

    ontology = None
    if args.hpo:
        from p6_spark.sources.ontology import ontology_from_obographs

        ontology = ontology_from_obographs(spark, args.hpo)

    result = apply_mapping(
        spark, tables, ontology=ontology, strict_variants=args.strict_variants
    )

    # timestamped output dir (reference src/P6/__main__.py:303-310)
    stamp = datetime.datetime.now().strftime("%Y%m%d-%H%M%S")
    out_dir = os.path.join(args.output_dir, f"phenopackets-{stamp}")
    n = write_packet_files(result.packets, out_dir)

    stats = result.stats()
    print(f"Created {n} phenopackets in {out_dir}")
    for k, v in sorted(stats.items()):
        print(f"  {k}: {v}")

    issues = result.audit.collect()
    if issues:
        print(f"Issues ({len(issues)}):")
        for row in issues:
            print(f"  [{row['level']}] {row['step']}: {row['message']}")
    return 0  # errors drop rows, never the run


def cmd_audit_excel(args: argparse.Namespace) -> int:
    """Pure metadata audit (reference preprocess, src/P6/__main__.py:394-455):
    runs at plan time against df.columns — no data is scanned."""
    from p6_spark.loader import load_workbook
    from p6_spark.schemas import classify_sheet
    from p6_spark.session import get_spark

    spark = get_spark("p6x")
    tables = load_workbook(spark, args.workbook)
    entries = []
    for sheet, df in tables.items():
        entries.append(
            {
                "step": "column_count",
                "sheet": sheet,
                "detail": f"{len(df.columns)} columns",
            }
        )
        entries.append(
            {
                "step": "classification",
                "sheet": sheet,
                "detail": classify_sheet(df.columns),
            }
        )
    if args.as_json:
        print(json.dumps(entries, indent=2))
    else:
        w = max((len(e["sheet"]) for e in entries), default=5)
        print(f"{'sheet':<{w}}  {'step':<16}  detail")
        for e in entries:
            print(f"{e['sheet']:<{w}}  {e['step']:<16}  {e['detail']}")
    return 0


def cmd_download(args: argparse.Namespace) -> int:
    """HPO JSON download (reference src/P6/__main__.py:80-125). Driver-side
    HTTP; requires the 'requests' package and network access."""
    try:
        import requests
    except ImportError:
        print("download requires the 'requests' package", file=sys.stderr)
        return 1
    tag = args.tag
    if tag and not tag.startswith("v"):
        tag = f"v{tag}"
    if not tag:
        resp = requests.get(
            "https://api.github.com/repos/obophenotype/human-phenotype-ontology/"
            "releases/latest",
            timeout=30,
        )
        resp.raise_for_status()
        tag = resp.json()["tag_name"]
    url = (
        "https://github.com/obophenotype/human-phenotype-ontology/releases/download/"
        f"{tag}/hp.json"
    )
    resp = requests.get(url, timeout=60)
    resp.raise_for_status()
    os.makedirs(args.output_dir, exist_ok=True)
    out = os.path.join(args.output_dir, "hp.json")
    with open(out, "wb") as f:
        f.write(resp.content)
    print(f"Downloaded {tag} -> {out}")
    return 0


def cmd_run_query(args: argparse.Namespace) -> int:
    """Run any registered analytics query against a harness SF dir and
    print the result (table or JSON lines). `p6x run-query --list` shows
    the full registry with tags."""
    from p6_spark.plans import QUERIES, get_queries
    from p6_spark.session import get_spark

    get_queries()
    if args.list:
        w = max(len(n) for n in QUERIES)
        for name in sorted(QUERIES):
            q = QUERIES[name]
            tags = ",".join(getattr(q, "tags", ()) or ())
            print(f"{name:<{w}}  {tags}")
        return 0
    if not args.name:
        print("run-query: provide a query name or --list", file=sys.stderr)
        return 2
    if args.name not in QUERIES:
        print(f"unknown query {args.name!r} (see --list)", file=sys.stderr)
        return 2
    spark = get_spark("p6x")
    df = QUERIES[args.name].build(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.as_json:
        for r in df.limit(args.limit).collect():
            print(json.dumps(r.asDict(), default=str))
    else:
        df.limit(args.limit).show(args.limit, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="p6x", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    pe = sub.add_parser("parse-excel", help="workbook -> per-patient phenopacket JSON")
    pe.add_argument("workbook")
    pe.add_argument("-o", "--output-dir", default=".")
    pe.add_argument("--strict-variants", action="store_true")
    pe.add_argument("--hpo", default=None, help="path to hp.json(.gz) for validation")
    pe.set_defaults(fn=cmd_parse_excel)

    ae = sub.add_parser("audit-excel", help="plan-time workbook audit")
    ae.add_argument("workbook")
    ae.add_argument("--json", dest="as_json", action="store_true")
    ae.set_defaults(fn=cmd_audit_excel)

    dl = sub.add_parser("download", help="download the HPO ontology JSON")
    dl.add_argument("--tag", default=None)
    dl.add_argument("-o", "--output-dir", default=".")
    dl.set_defaults(fn=cmd_download)

    rq = sub.add_parser("run-query", help="run a registered analytics query")
    rq.add_argument("name", nargs="?", default=None)
    rq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    rq.add_argument("--limit", type=int, default=20)
    rq.add_argument("--json", dest="as_json", action="store_true")
    rq.add_argument("--explain", action="store_true", help="print the physical plan")
    rq.add_argument("--list", action="store_true", help="list registered queries")
    rq.set_defaults(fn=cmd_run_query)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
