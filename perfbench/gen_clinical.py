"""Seeded clinical inputs for the benchmark: xlsx workbooks with their
expected outcomes, and a synthetic HPO ontology in obographs JSON.

Workbooks are real xlsx files (stdlib ``zipfile``, shared strings) laid
out the way FIXTURES.md describes the reference workbooks: five sheet
kinds under their aliases plus one non-data sheet. Edge rows are planted
on a fixed schedule per sheet (see ``GENOTYPE_SLOTS`` and friends), and
every workbook comes with the outcome the generator itself knows to be
right: packets written, valid records per kind after the zygosity /
inheritance zip-explode, and audit rows per (step, level).
"""

from __future__ import annotations

import json
import random
import zipfile
from collections import Counter
from xml.sax.saxutils import escape

HP_PURL = "http://purl.obolibrary.org/obo/HP_"
ALT_PRED = "http://www.geneontology.org/formats/oboInOwl#hasAlternativeId"
ROOT = 1  # HP:0000001 All
PHENOTYPIC_ABNORMALITY = 118  # HP:0000118
OTHER_BRANCHES = (5, 12823, 40279)  # mode of inheritance, clinical modifier, frequency

_WORDS = (
    "abnormal absent atrophy broad cardiac cerebral cleft cortical cranial "
    "cystic delayed dental distal dysplasia enlarged facial fused hepatic "
    "hypoplasia joint lateral limb macular muscle narrow nasal neural ocular "
    "optic palatal pelvic proximal pulmonary renal retinal short skeletal "
    "spinal tall thin thoracic tubular vascular vertebral"
).split()


def curie(n: int) -> str:
    return f"HP:{n:07d}"


class Ontology:
    """An is_a DAG of integer term ids with labels and deprecations."""

    def __init__(self) -> None:
        self.labels: dict[int, str] = {}
        self.parents: dict[int, list[int]] = {}
        self.deprecated: dict[int, list[int]] = {}  # term -> alt ids
        self.branch: dict[int, int] = {}  # term -> top-level branch
        self._anc: dict[int, frozenset[int]] = {}

    def ancestors(self, t: int) -> frozenset[int]:
        """Proper ancestors over is_a (what ontology_from_obographs stores)."""
        got = self._anc.get(t)
        if got is None:
            acc: set[int] = set()
            for p in self.parents.get(t, ()):
                acc.add(p)
                acc |= self.ancestors(p)
            got = self._anc[t] = frozenset(acc)
        return got


def make_ontology(rng: random.Random, n_terms: int = 19000) -> Ontology:
    """About ``n_terms`` CLASS nodes: 93 % under phenotypic abnormality,
    the rest under three other top-level branches, about 10 % of terms
    with a second parent, and 2 % deprecated (no edges, 1-2 alt ids)."""
    onto = Ontology()
    fixed = (ROOT, PHENOTYPIC_ABNORMALITY) + OTHER_BRANCHES
    ids = [i for i in rng.sample(range(1000, 9_999_999), n_terms + 10) if i not in fixed]
    ids = ids[: n_terms - len(fixed)]
    onto.labels[ROOT] = "All"
    onto.labels[PHENOTYPIC_ABNORMALITY] = "Phenotypic abnormality"
    for b, name in zip(OTHER_BRANCHES, ("Mode of inheritance", "Clinical modifier", "Frequency")):
        onto.labels[b] = name
    members: dict[int, list[int]] = {}
    for b in (PHENOTYPIC_ABNORMALITY,) + OTHER_BRANCHES:
        onto.parents[b] = [ROOT]
        onto.branch[b] = b
        members[b] = [b]
    n_dep = len(ids) // 50
    live, dead = ids[n_dep:], ids[:n_dep]
    for t in live:
        b = PHENOTYPIC_ABNORMALITY if rng.random() < 0.93 else rng.choice(OTHER_BRANCHES)
        pool = members[b]
        parents = [rng.choice(pool)]
        if len(pool) > 2 and rng.random() < 0.10:
            second = rng.choice(pool)
            if second != parents[0]:
                parents.append(second)
        onto.parents[t] = parents
        onto.branch[t] = b
        onto.labels[t] = " ".join(rng.sample(_WORDS, 3)).capitalize()
        pool.append(t)
    for t in dead:
        onto.labels[t] = "Obsolete " + " ".join(rng.sample(_WORDS, 2))
        onto.deprecated[t] = rng.sample(live, rng.choice((1, 2)))
    return onto


def write_obographs(onto: Ontology, path: str) -> None:
    nodes = []
    for t, label in onto.labels.items():
        node: dict = {"id": f"{HP_PURL}{t:07d}", "lbl": label, "type": "CLASS"}
        if t in onto.deprecated:
            node["meta"] = {
                "deprecated": True,
                "basicPropertyValues": [
                    {"pred": ALT_PRED, "val": curie(a)} for a in onto.deprecated[t]
                ],
            }
        nodes.append(node)
    edges = [
        {"sub": f"{HP_PURL}{t:07d}", "pred": "is_a", "obj": f"{HP_PURL}{p:07d}"}
        for t, ps in onto.parents.items()
        for p in ps
    ]
    with open(path, "w") as f:
        json.dump({"graphs": [{"id": "http://purl.obolibrary.org/obo/hp.json", "nodes": nodes, "edges": edges}]}, f)


# --- xlsx writer -----------------------------------------------------------

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_REL_NS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PKG_REL_NS = "http://schemas.openxmlformats.org/package/2006/relationships"
_CT = "application/vnd.openxmlformats-officedocument.spreadsheetml"


def _col_letters(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path: str, sheets: list[tuple[str, list[list]]]) -> None:
    """Write sheets of cells (None = no cell, str = shared string,
    int/float = numeric cell) as a minimal valid xlsx package."""
    shared: dict[str, int] = {}
    sheet_xml = []
    for _, rows in sheets:
        out = [f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n<worksheet xmlns="{_NS}"><sheetData>']
        for r, row in enumerate(rows, start=1):
            cells = []
            for c, v in enumerate(row):
                if v is None:
                    continue
                ref = f"{_col_letters(c)}{r}"
                if isinstance(v, str):
                    idx = shared.setdefault(v, len(shared))
                    cells.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
                else:
                    cells.append(f'<c r="{ref}"><v>{v!r}</v></c>')
            out.append(f'<row r="{r}">{"".join(cells)}</row>')
        out.append("</sheetData></worksheet>")
        sheet_xml.append("".join(out))
    sst = "".join(f'<si><t xml:space="preserve">{escape(s)}</t></si>' for s in shared)
    n = len(sheets)
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        f'<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        f'<Override PartName="/xl/workbook.xml" ContentType="{_CT}.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType="{_CT}.worksheet+xml"/>'
            for i in range(1, n + 1)
        )
        + f'<Override PartName="/xl/sharedStrings.xml" ContentType="{_CT}.sharedStrings+xml"/>'
        "</Types>"
    )
    root_rels = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n<Relationships xmlns="{_PKG_REL_NS}">'
        f'<Relationship Id="rId1" Type="{_REL_NS}/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    workbook = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n<workbook xmlns="{_NS}" xmlns:r="{_REL_NS}"><sheets>'
        + "".join(
            f'<sheet name="{escape(name, {chr(34): "&quot;"})}" sheetId="{i}" r:id="rId{i}"/>'
            for i, (name, _) in enumerate(sheets, start=1)
        )
        + "</sheets></workbook>"
    )
    wb_rels = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n<Relationships xmlns="{_PKG_REL_NS}">'
        + "".join(
            f'<Relationship Id="rId{i}" Type="{_REL_NS}/worksheet" Target="worksheets/sheet{i}.xml"/>'
            for i in range(1, n + 1)
        )
        + f'<Relationship Id="rId{n + 1}" Type="{_REL_NS}/sharedStrings" Target="sharedStrings.xml"/>'
        "</Relationships>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, xml in enumerate(sheet_xml, start=1):
            z.writestr(f"xl/worksheets/sheet{i}.xml", xml)
        z.writestr(
            "xl/sharedStrings.xml",
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            f'<sst xmlns="{_NS}" count="{len(shared)}" uniqueCount="{len(shared)}">{sst}</sst>',
        )


def cells_as_read(rows: list[list]) -> list[list[str | None]]:
    """The matrix sources.xlsx.read_xlsx must return for ``rows``: every
    value as its stored text, rows padded with None to the sheet width."""
    width = max((len(r) for r in rows), default=0)
    out = []
    for r in rows:
        vals = [None if v is None else (v if isinstance(v, str) else repr(v)) for v in r]
        # read_xlsx sizes a row by its last present cell before padding
        out.append(vals + [None] * (width - len(vals)))
    return out


# --- workbook generator ----------------------------------------------------

# Edge-row schedules: one slot per row, cycled in a seeded order, so
# every rate is fixed (e.g. 1 of 40 genotype rows has an unknown
# zygosity code) and small workbooks still meet most edge cases.
GENOTYPE_SLOTS = (
    ["multi2"] * 2 + ["multi5"] + ["bed"] * 2 + ["badzyg"] + ["nochrom"]
    + ["noemail"] * 2 + ["mismatch"] + ["normal"] * 30
)
PHENOTYPE_SLOTS = (
    ["nad"] + ["unparseable"] + ["absent"] + ["obsolete"] + ["wronglabel"]
    + ["nonpa"] + ["redundant"] + ["normal"] * 33
)
MEASUREMENT_SLOTS = ["nonnumeric"] + ["normal"] * 29

_GENES = ("ABCC6", "BRCA1", "CFTR", "DMD", "FBN1", "GJB2", "MECP2", "MYH7", "PAH", "SCN1A", "TTN", "USH2A")
_BASES = "ACGT"
_ZYG = ("het", "hom", "comphet", "hemi", "mosaic")
_INH = ("unknown", "inherited", "denovo")
_PHASING = ("Phased", "Unphased", "1", "0", "true", "false")
_DATES = ("T0", "T1", "T2", 2020, 20200101, " T4 ")
_STATUS = ("1", "0", "true", "false", "O", "E", "yes", "no")
_NBSP = " "


class _Schedule:
    def __init__(self, rng: random.Random, slots: list[str]) -> None:
        self.rng, self.slots, self.i = rng, list(slots), 0

    def next(self) -> str:
        if self.i % len(self.slots) == 0:
            self.rng.shuffle(self.slots)
        s = self.slots[self.i % len(self.slots)]
        self.i += 1
        return s


class TermPools:
    def __init__(self, onto: Ontology) -> None:
        has_child = {p for ps in onto.parents.values() for p in ps}
        pa = [t for t in onto.labels if onto.branch.get(t) == PHENOTYPIC_ABNORMALITY]
        self.pa_leaves = sorted(t for t in pa if t not in has_child)
        self.pa_parents = sorted(
            t for t in pa if t in has_child and t != PHENOTYPIC_ABNORMALITY
        )
        self.children: dict[int, list[int]] = {}
        for t, ps in onto.parents.items():
            for p in ps:
                self.children.setdefault(p, []).append(t)
        self.other = sorted(
            t for t in onto.labels if onto.branch.get(t) in OTHER_BRANCHES and t not in OTHER_BRANCHES
        )
        self.obsolete = sorted(onto.deprecated)


def _hpo_cell(rng: random.Random, t: int, label: str) -> str:
    form = rng.randrange(6)
    if form == 0:
        return curie(t)
    if form == 1:
        return f"HP:{t}"
    if form == 2:
        return str(t)
    if form == 3:
        return f"hp {t:07d}"
    if form == 4:
        return f"{label} HP:{t:07d}{_NBSP}"
    return f"{label} (HP:{t})"


def make_workbook(
    rng: random.Random, onto: Ontology, pools: TermPools, n_patients: int, first_id: int
) -> tuple[list[tuple[str, list[list]]], dict]:
    """One workbook's sheets plus its expected outcome."""
    geno_s = _Schedule(rng, GENOTYPE_SLOTS)
    pheno_s = _Schedule(rng, PHENOTYPE_SLOTS)
    meas_s = _Schedule(rng, MEASUREMENT_SLOTS)

    geno = [["Searchable Patient ID", "Contact Email", "Phasing", "chrom", "start", "end",
             "ref", "alt", "gene", "hgvsg", "hgvsc", "hgvsp", "zygosity", "inheritance"]]
    pheno = [["Patient ID", "HPO", "Timestamp", "Status (observed/excluded)"]]
    dis = [["patient_ID", "disease_term", "disease_label", "disease_onset", "disease_status"]]
    meas = [["patient_ID", "measurement_type", "measurement_value", "measurement_unit", "measurement_timestamp"]]
    bio = [["patient_ID", "biosample_id", "biosample_type", "collection_date"]]

    records: Counter = Counter()
    audit: Counter = Counter()
    with_packet: set[str] = set()
    sheet_terms: set[int] = set()

    for k in range(n_patients):
        pid = f"P{first_id + k:07d}"
        # --- genotype
        for _ in range(rng.choice((0, 1, 1, 2, 2, 3))):
            kind = geno_s.next()
            chrom_n = rng.choice([str(i) for i in range(1, 23)] + ["X", "Y"])
            pos = rng.randrange(10_000, 200_000_000)
            ref = rng.choice(_BASES)
            alt = rng.choice(_BASES.replace(ref, ""))
            hgvsg = f"chr{chrom_n}:g.{pos}{ref}>{alt}"
            chrom = rng.choice((chrom_n, "chr" + chrom_n))
            start, end = pos, pos
            raw_alt = alt
            zyg, inh, n_rec = rng.choice(_ZYG), rng.choice(_INH), 1
            email = f"lab{rng.randrange(100)}@example.org"
            if kind == "multi2":
                zyg, inh, n_rec = "het/Hom", "inherited / denovo", 2
            elif kind == "multi5":
                zyg, inh, n_rec = "het/hom/comphet/hemi/mosaic", "unknown/inherited/denovo", 3
            elif kind == "bed":
                start = pos - 1
            elif kind == "badzyg":
                zyg, n_rec = "xyz", 0
                audit[("map_genotype", "error")] += 1
            elif kind == "nochrom":
                chrom, n_rec = "", 0
                audit[("map_genotype", "error")] += 1
                audit[("map_genotype", "warning")] += 1  # HGVS vs raw
            elif kind == "noemail":
                email = None
            elif kind == "mismatch":
                raw_alt = rng.choice(_BASES.replace(ref, "").replace(alt, ""))
                audit[("map_genotype", "warning")] += 1
            gene = rng.choice(_GENES)
            geno.append([
                pid, email, rng.choice(_PHASING), chrom, start, end, ref, raw_alt, gene, hgvsg,
                f"NM_{rng.randrange(10**6):06d}.1:c.{rng.randrange(1, 9000)}{ref}>{alt}",
                f"NP_{rng.randrange(10**6):06d}.1:p.(Arg{rng.randrange(1, 3000)}Trp)",
                zyg, inh,
            ])
            records["genotype"] += n_rec
            if n_rec:
                with_packet.add(pid)
        # --- phenotype
        for _ in range(rng.choice((0, 2, 3, 4, 5, 6))):
            kind = pheno_s.next()
            terms = []
            if kind == "nad":
                cell = rng.choice(("NAD", " nad "))
                audit[("map_phenotype", "warning")] += 1
            elif kind == "unparseable":
                cell = rng.choice(("??", "see notes"))
                audit[("map_phenotype", "error")] += 1
            elif kind == "absent":
                t = rng.randrange(1000, 10**7)
                while t in onto.labels:
                    t = rng.randrange(1000, 10**7)
                cell, terms = curie(t), [t]
                audit[("map_phenotype", "warning")] += 1  # not found
            elif kind == "obsolete":
                t = rng.choice(pools.obsolete)
                cell, terms = curie(t), [t]
                audit[("map_phenotype", "warning")] += 1  # obsolete
            elif kind == "wronglabel":
                t = rng.choice(pools.pa_leaves)
                cell, terms = f"Mislabelled finding HP:{t:07d}", [t]
                audit[("map_phenotype", "warning")] += 1  # label mismatch
            elif kind == "nonpa":
                t = rng.choice(pools.other)
                cell, terms = _hpo_cell(rng, t, onto.labels[t]), [t]
                audit[("map_phenotype", "warning")] += 1  # outside the branch
            elif kind == "redundant":
                # a parent and one of its children for the same patient
                p = rng.choice(pools.pa_parents)
                c = rng.choice(pools.children[p])
                cell, terms = curie(p), [p, c]
            else:
                t = rng.choice(pools.pa_leaves)
                cell, terms = _hpo_cell(rng, t, onto.labels[t]), [t]
            if not terms:  # dropped with an audit row
                pheno.append([pid, cell, rng.choice(_DATES), rng.choice(_STATUS)])
            for i, t in enumerate(terms):
                pheno.append([pid, cell if i == 0 else curie(t), rng.choice(_DATES), rng.choice(_STATUS)])
                records["phenotype"] += 1
                sheet_terms.add(t)
                with_packet.add(pid)
        # --- diseases
        if rng.random() < 0.5:
            label = rng.choice((None, "Pseudoxanthoma elasticum", "Cystic fibrosis"))
            dis.append([pid, f"OMIM:{rng.randrange(100000, 999999)}", label,
                        f"20{rng.randrange(10, 24)}-0{rng.randrange(1, 10)}-1{rng.randrange(10)}",
                        rng.choice(("true", "false", "1"))])
            records["diseases"] += 1
            with_packet.add(pid)
        # --- measurements
        for _ in range(rng.choice((0, 1, 2, 3))):
            kind = meas_s.next()
            if kind == "nonnumeric":
                value = rng.choice(("pending", "n/a"))
                audit[("map_measurement", "error")] += 1
            else:
                value = rng.choice((round(rng.uniform(0.1, 300.0), 2), rng.randrange(1, 500)))
                records["measurements"] += 1
                with_packet.add(pid)
            meas.append([pid, f"LOINC:{rng.randrange(1000, 99999)}-{rng.randrange(10)}", value,
                         rng.choice(("mmol/L", "mg/dL", "g/L")), rng.choice(("T1", 2021, None))])
        # --- biosamples
        if rng.random() < 0.4:
            bio.append([pid, f"BS{first_id + k:07d}", f"UBERON:{rng.randrange(10**7):07d}",
                        rng.choice(("T3", 2021, "T0"))])
            records["biosamples"] += 1
            with_packet.add(pid)

    # sheet-level redundancy check: one warning per (term, ancestor) pair
    # of distinct in-ontology terms present in the sheet
    for t in sheet_terms:
        if t in onto.labels:
            audit[("map_phenotype", "warning")] += len(onto.ancestors(t) & sheet_terms)

    names = rng.choice((
        ("genotype", "phenotype", "diseases", "measurements", "biosamples"),
        ("variants", "HPO", "disease", "labs", "samples"),
        ("Geno", "Pheno", "Diseases", "Measurement", "Biosample"),
    ))
    sheets = list(zip(names, (geno, pheno, dis, meas, bio)))
    sheets.insert(rng.randrange(len(sheets) + 1), ("severity periodicity", [["to be designed"]]))
    stats = {f"n_{k}": records[k] for k in ("genotype", "phenotype", "diseases", "measurements", "biosamples")}
    stats["n_patients"] = len(with_packet)
    expect = {
        "patients": n_patients,
        "rows": sum(len(r) - 1 for r in (geno, pheno, dis, meas, bio)),
        "packets": len(with_packet),
        "stats": stats,
        "audit": {f"{s}/{lvl}": n for (s, lvl), n in sorted(audit.items())},
    }
    return sheets, expect


def generate(seed: int, out_dir: str, workbooks: list[int]) -> dict:
    """Write the ontology and one workbook per entry of ``workbooks``
    (its patient count) under ``out_dir``; return the manifest."""
    rng = random.Random(seed)
    onto = make_ontology(rng)
    pools = TermPools(onto)
    hpo_path = f"{out_dir}/hp.json"
    write_obographs(onto, hpo_path)
    books = []
    first = 1
    for i, n in enumerate(workbooks):
        sheets, expect = make_workbook(rng, onto, pools, n, first)
        first += n
        path = f"{out_dir}/workbook_{i}.xlsx"
        write_xlsx(path, sheets)
        books.append({"path": path, **expect})
    return {"hpo": hpo_path, "workbooks": books}
