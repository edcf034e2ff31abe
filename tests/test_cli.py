"""CLI end-to-end over a CSV workbook directory — mirrors reference
tests/test_cli_parse_excel.py / test_cli_audit_excel.py: exit 0, 'Created
N' output, packet files on disk, audit table/JSON shapes."""

from __future__ import annotations

import json
import os

import pytest

from p6_spark.cli import main
from test_mapping_stats import _jobs

GENO_CSV = """Searchable Patient ID,Contact Email,Phasing,chrom,start,end,ref,alt,gene,hgvsg,hgvsc,hgvsp,zygosity,inheritance
P1,u@example.com,Phased,16,100,100,A,G,ABCC6,chr16:g.100A>G,NM_000000.0:c.100A>G,NP_000000.0:p.Lys67Asn,het/hom,inherited/denovo
P2,,Unphased,X,50,50,C,T,GENE2,X:g.50C>T,NM_000001.0:c.50C>T,NP_000001.0:p.A17V,hom,unknown
BAD-ID,u@example.com,1,16,1,1,A,G,G1,16:g.1A>G,NM_2.0:c.1A>G,NP_2.0:p.K1N,het,inherited
"""

PHENO_CSV = """Patient ID,HPO,Timestamp,Status (observed/excluded)
P1,Rod-cone dystrophy HP:0000510 ,T0,O
P1,HP:510,T1,E
P2,1636,20200101,O
P2,NAD,T0,O
"""

JUNK_CSV = """note
to be designed
"""


@pytest.fixture()
def workbook_dir(tmp_path):
    d = tmp_path / "wb"
    d.mkdir()
    (d / "genotype.csv").write_text(GENO_CSV)
    (d / "phenotype.csv").write_text(PHENO_CSV)
    (d / "severity periodicity.csv").write_text(JUNK_CSV)
    return str(d)


def test_parse_excel_cli(workbook_dir, tmp_path, capsys, spark):
    rc = main(["parse-excel", workbook_dir, "-o", str(tmp_path / "out")])
    assert rc == 0  # errors drop rows, never the run
    out = capsys.readouterr().out
    assert "Created 2 phenopackets" in out
    assert "n_genotype: 3" in out  # P1 explodes to 2 + P2
    assert "n_phenotype: 3" in out  # NAD row dropped
    assert "[error]" in out and "[warning]" in out

    out_dirs = os.listdir(tmp_path / "out")
    assert len(out_dirs) == 1
    files = sorted(os.listdir(tmp_path / "out" / out_dirs[0]))
    assert files == ["phenopacket_0.json", "phenopacket_1.json"]
    docs = [
        json.load(open(tmp_path / "out" / out_dirs[0] / f)) for f in files
    ]
    assert {d["id"] for d in docs} == {"P1", "P2"}


def test_audit_excel_cli_json(workbook_dir, capsys, spark):
    rc = main(["audit-excel", workbook_dir, "--json"])
    assert rc == 0
    entries = json.loads(capsys.readouterr().out)
    by_sheet = {(e["sheet"], e["step"]): e["detail"] for e in entries}
    assert by_sheet[("genotype", "classification")] == "genotype"
    assert by_sheet[("phenotype", "classification")] == "phenotype"
    assert by_sheet[("severity periodicity", "classification")] == "skip"


def test_audit_excel_cli_table(workbook_dir, capsys, spark):
    rc = main(["audit-excel", workbook_dir])
    assert rc == 0
    out = capsys.readouterr().out
    assert "sheet" in out and "classification" in out


def test_download_mocks_network(tmp_path, capsys):
    """S5 download path without network, mirroring reference
    tests/test_download_mock.py:14-26: the latest-release lookup resolves
    the tag, the asset URL is fetched, and hp.json is written."""
    from unittest.mock import Mock, patch

    calls = []

    def fake_get(url, *args, **kwargs):
        calls.append(url)
        if url.endswith("/releases/latest"):
            return Mock(status_code=200, json=lambda: {"tag_name": "vX"},
                        raise_for_status=lambda: None)
        return Mock(status_code=200, content=b"{}", raise_for_status=lambda: None)

    with patch("requests.get", side_effect=fake_get):
        rc = main(["download", "-o", str(tmp_path)])
    assert rc == 0
    assert (tmp_path / "hp.json").read_bytes() == b"{}"
    assert calls[0].endswith("/releases/latest")
    assert calls[1].endswith("/download/vX/hp.json")
    assert "Downloaded vX" in capsys.readouterr().out


def test_download_tag_v_prefixing(tmp_path, capsys):
    """An explicit --tag skips the release lookup and is v-prefixed
    (reference src/P6/__main__.py tag handling)."""
    from unittest.mock import Mock, patch

    calls = []

    def fake_get(url, *args, **kwargs):
        calls.append(url)
        return Mock(status_code=200, content=b"{}", raise_for_status=lambda: None)

    with patch("requests.get", side_effect=fake_get):
        rc = main(["download", "--tag", "2024-04-26", "-o", str(tmp_path)])
    assert rc == 0
    assert len(calls) == 1
    assert calls[0].endswith("/download/v2024-04-26/hp.json")
    assert (tmp_path / "hp.json").exists()


def test_run_query_list_and_exec(capsys, spark):
    rc = main(["run-query", "--list"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "txt_lm_score" in out

    rc = main(
        ["run-query", "q_kmv_distinct", "--sf-dir", "/root/testdata/sf0.001", "--json"]
    )
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert len(lines) == 3

    rc = main(["run-query", "nope_not_a_query"])
    assert rc == 2



def test_run_query_table_mode_runs_the_query_once(capsys, spark):
    """Table mode prints through ``show`` alone; it does not also collect
    the rows that JSON mode prints, so it runs no more jobs than JSON."""
    argv = ["run-query", "q_kmv_distinct", "--sf-dir", "/root/testdata/sf0.001"]
    main(argv + ["--json"])  # warm: the first run also lists the parquet files
    json_rc, json_jobs = _jobs(spark, "run_query.json", lambda: main(argv + ["--json"]))
    table_rc, table_jobs = _jobs(spark, "run_query.table", lambda: main(argv))
    assert json_rc == table_rc == 0
    assert "+" in capsys.readouterr().out.splitlines()[-2]  # show()'s closing border
    assert 0 < table_jobs <= json_jobs, (table_jobs, json_jobs)
