"""Seeded synthetic Pandit/SETI catalog with its own ground truth.

The catalog has the shape of the reference data (SURVEY.md §6): about
19k entity CSV rows describing about 17k graph nodes, one giant
component of about 9k nodes, about 3.2k isolated works, many 2-4-node
components, and about 1.8k SETI rows spread over the 9 known
collections. It also plants every case of the FIXTURES.md §A1/§A2
checklists.

The generator decides the graph first and writes the CSVs from it, so
the adjacency and the e-text link table are known without running the
ETL. ``write_catalog`` returns that ground truth; the benchmark checks
the engine's answers against it, and ``test_catalog.py`` checks the ETL
itself against it.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass, field

WROTE = "wrote"
INSPIRED = "inspired"

# The 9 collections of transform.py:194-204 with the subtype label of
# each link column. Single-subtype collections are plain strings in the
# reference, so the reference indexes characters: "web HTML"[0] == "w".
SETI_SUBTYPES: dict[str, tuple[str, ...]] = {
    "DCS": ("web HTML", "GitHub (1) CoNLL-U", "GitHub (2) TXT"),
    "GRETIL": ("w",),
    "Muktabodha KSTS": ("w",),
    "SARIT": ("web HTML", "GitHub XML"),
    "Sanskrit Library and TITUS": ("Skt Lib web HTML", "TITUS web HTML"),
    "Vātāyana and Pramāṇa NLP": ("Vātāyana web HTML", "Pramāṇa NLP GitHub"),
    "UTA Dharmaśāstra": ("web HTML", "Google Doc"),
    "DiPAL DCV": ("web HTML work page", "web HTML text"),
    "HANSEL": ("GitHub TXT", "GitHub XML", "web HTML"),
}
# Relative row share per collection (GRETIL and DCS dominate, as in the
# reference master sheet).
_SETI_WEIGHTS = [14, 30, 6, 10, 8, 6, 5, 4, 7]

ENTITY_COLUMNS = [
    "Content type", "ID", "Name", "Aka", "Social identifiers",
    "Authors (IDs)", "Authors (names)", "Discipline", "Base texts (IDs)",
    "Base texts (names)", "Highest Year", "Lowest Year",
]
SETI_COLUMNS = [
    "Collection", "Text Name", "Alternative Text Names", "Author Name",
    "Alternative Author Names", "File Size (kb)", "Link 1 (main)",
    "Link 2 (underlying)", "Link 3 (extract)", "Work ID", "Author ID",
]
_LINK_COLUMNS = ["Link 1 (main)", "Link 2 (underlying)", "Link 3 (extract)"]

_SYLLABLES = [
    "kā", "li", "dā", "sa", "na", "rā", "ya", "ṇa", "bho", "ja", "de", "va",
    "mā", "ne", "yo", "da", "śa", "ṅka", "ra", "bhū", "ṣa", "ma", "ṭa", "vi",
    "dha", "pra", "kṛ", "ti", "su", "ndā", "ga", "ñja", "hi", "ta", "ka",
]
_DISCIPLINES = [
    "Nyāya", "Vaiśeṣika", "Yoga", "Sāṃkhya", "Mīmāṃsā", "Advaita Vedānta",
    "Viśiṣṭādvaita Vedānta", "Vyākaraṇa", "Alaṃkāraśāstra", "Kāvya",
    "Dharmaśāstra", "Jyotiṣa",
]
_SOCIAL = ["ācārya", "bhaṭṭa", "miśra", "paṇḍita", "sūri"]


@dataclass
class Catalog:
    """Ground truth of one generated catalog."""

    entities_csv: str
    seti_csv: str
    csv_rows: int
    seti_rows: int
    # id -> (type, name) for every entity the ETL keeps.
    entities: dict[str, tuple[str, str]]
    # (src, dst, relationship) edges of the graph.
    edges: set[tuple[str, str, str]]
    # (work_id, collection, subtype, url) e-text links.
    links: set[tuple[str, str, str, str]]
    # Undirected adjacency over the edges.
    adjacency: dict[str, set[str]] = field(default_factory=dict)
    # id -> number of nodes in its connected component.
    component_size: dict[str, int] = field(default_factory=dict)


class _Generator:
    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self._ids = iter(rng.sample(range(10000, 100000), 90000))
        self.works: dict[str, dict] = {}
        self.authors: dict[str, dict] = {}
        self.edges: set[tuple[str, str, str]] = set()

    def name(self) -> str:
        n = self.rng.choice((2, 3, 3, 4))
        s = "".join(self.rng.choice(_SYLLABLES) for _ in range(n))
        return s[0].upper() + s[1:]

    def years(self, p_years: float) -> tuple[str, str]:
        r = self.rng.random()
        if r < p_years:
            lo = self.rng.randrange(200, 1900)
            return str(lo + self.rng.choice((0, 0, 50, 100))), str(lo)
        if r < p_years + 0.04:
            # Lowest without highest: the ETL nulls both (transform.py:63-65).
            return "", str(self.rng.randrange(200, 1900))
        return "", ""

    def new_author(self, person_row: bool = True) -> str:
        aid = str(next(self._ids))
        hy, ly = self.years(0.8)
        self.authors[aid] = {
            "name": self.name(),
            "aka": self.name() if self.rng.random() < 0.15 else "",
            "social": self.rng.choice(_SOCIAL) if self.rng.random() < 0.3 else "",
            "hy": hy, "ly": ly, "row": person_row, "works": [],
        }
        return aid

    def new_work(self, authors=(), bases=(), discipline=None, years=None) -> str:
        wid = str(next(self._ids))
        hy, ly = years if years is not None else self.years(0.65)
        self.works[wid] = {
            "name": self.name(),
            "aka": self.name() if self.rng.random() < 0.2 else "",
            "discipline": discipline if discipline is not None else (
                self.rng.choice(_DISCIPLINES) if self.rng.random() < 0.92 else ""
            ),
            "hy": hy, "ly": ly,
            "authors": list(authors), "bases": list(bases),
        }
        for a in authors:
            self.authors[a]["works"].append(wid)
            self.edges.add((a, wid, WROTE))
        for b in bases:
            self.edges.add((b, wid, INSPIRED))
        return wid

    def component(self, target: int) -> None:
        """Grow one connected component of about ``target`` nodes by
        preferential attachment: new works attach to authors and base
        texts in proportion to their degree, so hubs emerge."""
        rng = self.rng
        a0 = self.new_author(person_row=rng.random() < 0.9)
        nodes = [a0, self.new_work(authors=[a0])]
        authors, works = [a0], [nodes[1]]
        members = set(nodes)
        # Degree-weighted pools: a node appears once per incident edge.
        a_pool, w_pool = [a0], [nodes[1]]
        while len(nodes) < target:
            picked_authors: list[str] = []
            bases: list[str] = []
            if rng.random() < 0.3 or len(nodes) + 2 > target:
                picked_authors.append(rng.choice(a_pool))
            else:
                a = self.new_author(person_row=rng.random() < 0.9)
                authors.append(a)
                nodes.append(a)
                picked_authors.append(a)
            if rng.random() < 0.12 and len(authors) > 1:
                second = rng.choice(a_pool)
                if second not in picked_authors:
                    picked_authors.append(second)
            if rng.random() < 0.3:
                # Recent works are likelier bases, so commentary chains form.
                bases.append(
                    rng.choice(w_pool) if rng.random() < 0.6 else works[-1]
                )
            if not bases and not any(a in members for a in picked_authors):
                bases.append(rng.choice(w_pool))
            w = self.new_work(authors=picked_authors, bases=bases)
            members.update(picked_authors)
            members.add(w)
            nodes.append(w)
            works.append(w)
            a_pool.extend(picked_authors)
            w_pool.extend(bases)
            w_pool.append(w)


def _planted_cases(b: _Generator) -> None:
    """The FIXTURES.md §A1 checklist, planted explicitly."""
    a1 = b.new_author()
    a2 = b.new_author()
    b.authors[a1].update(hy="1100", ly="1000")
    # A work with 2 authors and no years: backfill takes the first
    # author's years (transform.py:158-165).
    root = b.new_work(authors=[a1, a2], discipline="Nyāya", years=("", ""))
    # A commentary chain of depth 3, with the root the base of 2
    # commentaries.
    c1 = b.new_work(authors=[a1], bases=[root], discipline="Nyāya")
    c2 = b.new_work(authors=[a2], bases=[c1], discipline="Yoga")
    b.new_work(authors=[a2], bases=[c2], discipline="Yoga")
    b.new_work(authors=[a1], bases=[root], discipline="Yoga")
    # An author with works in 2 disciplines at different frequencies
    # (a1: Nyāya x2, Yoga x1).
    # A Person row with no works, which the ETL prunes.
    b.new_author()
    # An isolated work.
    b.new_work()


def _grow(b: _Generator, rng: random.Random) -> None:
    _planted_cases(b)
    b.component(9000)
    # Mid-sized components, then many 2-4-node ones, then isolated works.
    for _ in range(75):
        b.component(rng.randrange(8, 60))
    for _ in range(950):
        b.component(rng.choice((2, 2, 2, 3, 3, 4)))
    for _ in range(3200):
        b.new_work()
    # Person rows with no works (pruned by the ETL).
    for _ in range(250):
        b.new_author()


def _entity_rows(b: _Generator, rng: random.Random) -> list[dict]:
    rows = []
    for wid, w in b.works.items():
        rows.append({
            "Content type": "Work", "ID": wid, "Name": w["name"], "Aka": w["aka"],
            "Social identifiers": "",
            "Authors (IDs)": ", ".join(w["authors"]),
            "Authors (names)": ", ".join(b.authors[a]["name"] for a in w["authors"]),
            "Discipline": w["discipline"],
            "Base texts (IDs)": ", ".join(w["bases"]),
            "Base texts (names)": ", ".join(b.works[x]["name"] for x in w["bases"]),
            "Highest Year": w["hy"], "Lowest Year": w["ly"],
        })
    for aid, a in b.authors.items():
        if not a["row"]:
            continue  # known only through the works that name it
        rows.append({
            "Content type": "Person", "ID": aid, "Name": a["name"], "Aka": a["aka"],
            "Social identifiers": a["social"], "Authors (IDs)": "",
            "Authors (names)": "", "Discipline": "", "Base texts (IDs)": "",
            "Base texts (names)": "", "Highest Year": a["hy"], "Lowest Year": a["ly"],
        })
    # Repeated rows (last writer wins, with the same content) and rows of
    # other content types, which the ETL filters out.
    rows.extend(dict(r) for r in rng.sample(rows, 2300))
    for _ in range(300):
        rows.append({c: "" for c in ENTITY_COLUMNS} | {
            "Content type": "Place", "ID": str(rng.randrange(100000, 999999)),
            "Name": b.name(),
        })
    rng.shuffle(rows)
    return rows


def _seti_rows(b: _Generator, rng: random.Random) -> list[dict]:
    colls = list(SETI_SUBTYPES)
    # A pool smaller than the row count, so works recur across collections.
    pool = rng.sample(sorted(b.works), 1300)
    rows = []
    serial = 0

    def url(coll: str) -> str:
        nonlocal serial
        serial += 1
        slug = "".join(ch for ch in coll.lower() if ch.isalnum())[:12]
        return f"https://{slug}.example.org/texts/{serial}.htm"

    def row(coll: str, work_id: str, links: list[str]) -> dict:
        r = {c: "" for c in SETI_COLUMNS}
        r.update({
            "Collection": coll, "Text Name": b.name(), "Author Name": b.name(),
            "File Size (kb)": f"{rng.uniform(5, 900):.1f}", "Work ID": work_id,
            "Author ID": str(rng.randrange(10000, 100000)),
        })
        for col, link in zip(_LINK_COLUMNS, links):
            r[col] = link
        return r

    for _ in range(1760):
        coll = rng.choices(colls, weights=_SETI_WEIGHTS)[0]
        n_sub = len(SETI_SUBTYPES[coll])
        links = [
            url(coll),
            url(coll) if n_sub > 1 and rng.random() < 0.5 else "",
            url(coll) if n_sub > 2 and rng.random() < 0.3 else "",
        ]
        r = rng.random()
        if r < 0.05:
            wid = ", ".join(rng.sample(pool, 2))  # multi-work row
        elif r < 0.07:
            wid = "\n".join(rng.sample(pool, 2))  # newline-separated ids
        elif r < 0.11:
            wid = "..."  # missing-work sentinel
        elif r < 0.13:
            wid = ""  # skipped by the ETL
        else:
            wid = rng.choice(pool)
        rows.append(row(coll, wid, links))
    # Planted SETI cases (FIXTURES.md §A2): one work in 3 collections,
    # one work in exactly 1 collection, a duplicate link.
    tri, solo = pool[0], pool[1]
    for coll in ("DCS", "GRETIL", "SARIT"):
        rows.append(row(coll, tri, [url(coll)]))
    rows = [r for r in rows if solo not in r["Work ID"]]
    rows.append(row("HANSEL", solo, [url("HANSEL")]))
    dup = row("DCS", pool[2], [url("DCS"), url("DCS")])
    rows.extend([dup, dict(dup)])
    rng.shuffle(rows)
    return rows


def _links(rows: list[dict]) -> set[tuple[str, str, str, str]]:
    import re

    out = set()
    for r in rows:
        if not r["Work ID"]:
            continue
        ids = [i.strip() for i in re.split(r"[,\r\n]+", r["Work ID"]) if i.strip()]
        labels = SETI_SUBTYPES[r["Collection"]]
        for k, col in enumerate(_LINK_COLUMNS):
            link = r[col].strip()
            if link:
                out.update((wid, r["Collection"], labels[k], link) for wid in ids)
    return out


def _components(adj: dict[str, set[str]]) -> dict[str, int]:
    size: dict[str, int] = {}
    for start in adj:
        if start in size:
            continue
        comp, stack = {start}, [start]
        while stack:
            for nb in adj[stack.pop()]:
                if nb not in comp:
                    comp.add(nb)
                    stack.append(nb)
        for n in comp:
            size[n] = len(comp)
    return size


def write_catalog(out_dir: str, seed: int) -> Catalog:
    """Generate the catalog for ``seed`` into ``out_dir`` (two CSVs) and
    return its ground truth. The same seed gives byte-identical files."""
    rng = random.Random(seed)
    b = _Generator(rng)
    _grow(b, rng)
    entity_rows = _entity_rows(b, rng)
    seti_rows = _seti_rows(b, rng)

    os.makedirs(out_dir, exist_ok=True)
    ent_path = os.path.join(out_dir, "entities.csv")
    seti_path = os.path.join(out_dir, "seti.csv")
    for path, cols, rows in (
        (ent_path, ENTITY_COLUMNS, entity_rows),
        (seti_path, SETI_COLUMNS, seti_rows),
    ):
        with open(path, "w", newline="", encoding="utf-8") as fh:
            w = csv.DictWriter(fh, fieldnames=cols)
            w.writeheader()
            w.writerows(rows)

    entities = {wid: ("work", w["name"]) for wid, w in b.works.items()}
    entities.update(
        (aid, ("author", a["name"])) for aid, a in b.authors.items() if a["works"]
    )
    adj: dict[str, set[str]] = {n: set() for n in entities}
    for s, d, _ in b.edges:
        adj[s].add(d)
        adj[d].add(s)
    return Catalog(
        entities_csv=ent_path,
        seti_csv=seti_path,
        csv_rows=len(entity_rows),
        seti_rows=len(seti_rows),
        entities=entities,
        edges=set(b.edges),
        links=_links(seti_rows),
        adjacency=adj,
        component_size=_components(adj),
    )


def census(cat: Catalog) -> dict:
    """Component census in the shape of component_summary.txt."""
    from collections import Counter

    sizes = Counter()
    for n, s in cat.component_size.items():
        sizes[s] += 1
    comps = {s: c // s for s, c in sizes.items()}
    return {
        "nodes": len(cat.entities),
        "csv_rows": cat.csv_rows,
        "seti_rows": cat.seti_rows,
        "largest_component": max(comps),
        "isolated": comps.get(1, 0),
        "components_2_4": sum(c for s, c in comps.items() if 2 <= s <= 4),
        "components": sum(comps.values()),
    }
