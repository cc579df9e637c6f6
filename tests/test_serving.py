"""Serving-layer tests that need no reference data: a small Pandit/SETI
catalog is written as CSV in the test (the FIXTURES.md §A1/§A2 cases),
run through the real ETL, and every subgraph response is compared with
a brute-force Python BFS over the ETL output (grapher.py:25-94
semantics: undirected, excluded nodes visited but never expanded,
edges induced on the visited set)."""

from __future__ import annotations

import csv
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from panditya_spark import serving
from tests.conftest import count_jobs, count_py4j

ENTITY_HEADER = [
    "Content type", "ID", "Name", "Aka", "Social identifiers",
    "Authors (IDs)", "Authors (names)", "Discipline", "Base texts (IDs)",
    "Base texts (names)", "Highest Year", "Lowest Year",
]
SETI_HEADER = [
    "Collection", "Text Name", "Alternative Text Names", "Author Name",
    "Alternative Author Names", "File Size (kb)", "Link 1 (main)",
    "Link 2 (underlying)", "Link 3 (extract)", "Work ID", "Author ID",
]


def _person(pid, name, social="", hy="", ly=""):
    return {"Content type": "Person", "ID": pid, "Name": name,
            "Social identifiers": social, "Highest Year": hy, "Lowest Year": ly}


def _work(wid, name, authors=(), bases=(), discipline="", hy="", ly="", aka=""):
    return {
        "Content type": "Work", "ID": wid, "Name": name, "Aka": aka,
        "Authors (IDs)": ", ".join(a for a, _ in authors),
        "Authors (names)": ", ".join(n for _, n in authors),
        "Base texts (IDs)": ", ".join(b for b, _ in bases),
        "Base texts (names)": ", ".join(n for _, n in bases),
        "Discipline": discipline, "Highest Year": hy, "Lowest Year": ly,
    }


ANANDA, BHASKARA, QUOTE = ("100", "Ānanda"), ("101", "Bhāskara"), ("o'q", "Quote Author")
# §A1: a work with 2 authors (200); a commentary chain of depth 3
# (200 → 201 → 202); a work that is base text of 2 commentaries (200);
# an author with works in 2 disciplines at different frequencies (100);
# a work with no years whose first author has years (201); a Person row
# with no works (102, pruned); isolated works (204, "x,y"). Also: ids
# with a quote, a backslash and a comma, and a Person row (150) that a
# later work names only as its base text, so the ETL prunes 150 while
# the edge 150 → 206 survives — a dangling id the BFS can reach.
ENTITY_ROWS = [
    _person("100", "Ānanda", social="ācārya", hy="950", ly="900"),
    _person("101", "Bhāskara"),
    _person("102", "Citra"),
    _person("150", "Dangling"),
    _person("o'q", "Quote Author"),
    _work("200", "Mūla", authors=[ANANDA, BHASKARA], discipline="Nyāya",
          hy="1100", ly="1000", aka="Mūlagrantha"),
    _work("201", "Ṭīkā", authors=[ANANDA], bases=[("200", "Mūla")], discipline="Yoga"),
    _work("202", "Vivaraṇa", authors=[BHASKARA], bases=[("201", "Ṭīkā")],
          discipline="Nyāya", hy="1200", ly="1150"),
    _work("203", "Vyākhyā", authors=[QUOTE], bases=[("200", "Mūla")]),
    _work("207", "Prakaraṇa", authors=[ANANDA], discipline="Nyāya"),
    _work("a\\b", "Backslash Work", authors=[QUOTE], bases=[("203", "Vyākhyā")]),
    _work("x,y", "Comma Work"),
    _work("204", "Ekākī"),
    _work("206", "Orphan Commentary", bases=[("150", "Dangling")]),
]


def _seti(coll, work_id, main="", underlying="", extract=""):
    return {"Collection": coll, "Work ID": work_id, "Link 1 (main)": main,
            "Link 2 (underlying)": underlying, "Link 3 (extract)": extract}


# §A2: one work in 3 collections (200); one work in exactly 1 (201); a
# multi-work-ID row; a '...' row with links; a single-subtype collection
# (GRETIL) and a multi-subtype one (SARIT); a duplicate link.
SETI_ROWS = [
    _seti("GRETIL", "200", main="http://gretil.example/mula.htm"),
    _seti("GRETIL", "200", main="http://gretil.example/mula.htm"),
    _seti("SARIT", "200", main="http://sarit.example/mula.html",
          underlying="https://github.example/sarit/mula.xml"),
    _seti("DCS", "200", main="http://dcs.example/?IDTextDisplay=1"),
    _seti("GRETIL", "201", main="http://gretil.example/tika.htm"),
    _seti("SARIT", "202, 203", main="http://sarit.example/vyakhya.html"),
    _seti("GRETIL", "...", main="http://gretil.example/missing.htm"),
    _seti("GRETIL", "a\\b", main="http://gretil.example/backslash.htm"),
    _seti("GRETIL", "", main="http://gretil.example/skipped.htm"),
]

PHRASE = {
    ("author", "work"): "source author wrote target work",
    ("work", "work"): "source base text inspired target commentary",
}


def _write_csv(path, header, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=header, restval="")
        w.writeheader()
        w.writerows(rows)
    return str(path)


@pytest.fixture(scope="module")
def catalog(spark, tmp_path_factory):
    """ETL output held as materialised tables, as a server holds it, plus
    its collected contents for the brute-force answers."""
    from panditya_spark.etl import (
        edges_from_entities,
        entities_from_csv,
        etext_links_from_csv,
    )

    d = tmp_path_factory.mktemp("pandit")
    ent_csv = _write_csv(d / "entities.csv", ENTITY_HEADER, ENTITY_ROWS)
    seti_csv = _write_csv(d / "seti.csv", SETI_HEADER, SETI_ROWS)
    entities = entities_from_csv(spark, ent_csv).localCheckpoint(eager=True)
    edges = edges_from_entities(entities).localCheckpoint(eager=True)
    links = etext_links_from_csv(spark, seti_csv)[0].localCheckpoint(eager=True)
    return {
        "entities": entities,
        "edges": edges,
        "links": links,
        "types": {r.id: (r.type, r.name) for r in entities.collect()},
        "edge_list": [(r.src, r.dst) for r in edges.collect()],
        "link_rows": [tuple(r) for r in links.collect()],
    }


def _nested(link_rows, work_ids):
    acc = defaultdict(lambda: defaultdict(lambda: defaultdict(set)))
    for wid, coll, sub, url in link_rows:
        if wid in work_ids:
            acc[wid][coll][sub].add(url)
    return {
        wid: {
            coll: sorted(next(iter(subs.values())))
            if len(subs) == 1
            else {s: sorted(u) for s, u in subs.items()}
            for coll, subs in colls.items()
        }
        for wid, colls in acc.items()
    }


def brute_force(cat, authors, works, hops, exclude):
    """Expected response graph, or the expected error dict."""
    adj = defaultdict(set)
    for s, d in cat["edge_list"]:
        adj[s].add(d)
        adj[d].add(s)
    center = set(authors) | set(works)
    excl = set(exclude)
    visited = set(center)
    frontier = set(center)
    for _ in range(hops):
        frontier = {nb for n in frontier - excl for nb in adj[n]} - visited
        visited |= frontier
    types = cat["types"]
    unknown = sorted(visited - set(types))
    if unknown:
        assert len(unknown) == 1, "the first unknown id is defined by BFS order"
        return {"error": f"Invalid ID: '{unknown[0]}'"}
    etext = _nested(cat["link_rows"], visited)
    nodes = {
        n: {
            "label": types[n][1],
            "type": types[n][0],
            "is_central": n in center,
            "is_excluded": n in excl,
            "etext_links": etext.get(n, False),
        }
        for n in visited
    }
    edges = sorted(
        (s, d, PHRASE.get((types[s][0], types[d][0])))
        for s, d in cat["edge_list"]
        if s in visited and d in visited
    )
    return {"nodes": nodes, "edges": edges}


def subgraph(cat, authors, works, hops, exclude=None):
    return serving.subgraph_response(
        cat["entities"], cat["edges"], cat["links"], authors, works, hops, exclude
    )


def assert_matches(cat, authors, works, hops, exclude):
    resp = subgraph(cat, authors, works, hops, exclude)
    want = brute_force(cat, authors, works, hops, exclude)
    if "error" in want:
        assert resp == want
        return
    assert resp["parameters"] == {
        "authors": list(dict.fromkeys(authors)),
        "works": list(dict.fromkeys(works)),
        "hops": hops,
        "exclude_list": resp["parameters"]["exclude_list"],
    }
    assert sorted(resp["parameters"]["exclude_list"]) == sorted(set(exclude))
    ids = [n["id"] for n in resp["graph"]["nodes"]]
    assert len(ids) == len(set(ids))
    got = {n["id"]: {k: n[k] for k in want["nodes"][n["id"]]} for n in resp["graph"]["nodes"]}
    assert got == want["nodes"]
    got_edges = sorted(
        (e["source"], e["target"], e["relationship"]) for e in resp["graph"]["edges"]
    )
    assert got_edges == want["edges"]
    return resp


@pytest.mark.parametrize("hops", [0, 1, 2, 3])
def test_subgraph_single_seed_matches_bruteforce(catalog, hops):
    assert_matches(catalog, ["100"], [], hops, [])


@pytest.mark.parametrize(
    "authors,works,hops,exclude",
    [
        (["100"], ["203"], 0, []),
        (["100", "100"], ["203", "204"], 2, []),
        (["101"], ["207"], 3, []),
        (["100"], [], 2, ["100"]),  # an excluded seed is visited, never expanded
        (["100"], [], 3, ["200"]),  # an excluded interior node
        (["100"], ["202"], 2, ["201", "not-a-node"]),
    ],
)
def test_subgraph_multi_seed_and_exclusion_match_bruteforce(
    catalog, authors, works, hops, exclude
):
    assert_matches(catalog, authors, works, hops, exclude)


def test_subgraph_node_projection_hand_values(catalog):
    resp = assert_matches(catalog, ["100"], [], 1, [])
    nodes = {n["id"]: n for n in resp["graph"]["nodes"]}
    assert resp["graph"]["nodes"][0]["id"] == "100"  # BFS order: seed first
    a = nodes["100"]
    assert a["social_ids"] == "ācārya" and a["discipline"] is None
    assert a["disciplines"] == "Nyāya (2), Yoga (1)"
    assert a["dates"] == "900–950"
    mula = nodes["200"]
    assert mula["aka"] == "Mūlagrantha" and mula["dates"] == "1000–1100"
    assert mula["discipline"] == "Nyāya" and mula["disciplines"] is None
    assert mula["social_ids"] is None
    assert mula["etext_links"] == {
        "GRETIL": ["http://gretil.example/mula.htm"],
        "SARIT": {
            "web HTML": ["http://sarit.example/mula.html"],
            "GitHub XML": ["https://github.example/sarit/mula.xml"],
        },
        "DCS": ["http://dcs.example/?IDTextDisplay=1"],
    }
    # year backfill from the first author, with the caveat
    assert nodes["201"]["dates"] == "900–950 (author)"
    assert nodes["207"]["etext_links"] is False


@pytest.mark.parametrize(
    "authors,works,hops,exclude",
    [
        (["o'q"], [], 2, []),
        (["o'q"], [], 2, ["a\\b"]),
        ([], ["a\\b"], 1, ["o'q"]),
        ([], ["x,y"], 2, []),
        ([], ["x,y", "204"], 1, ["x,y"]),
    ],
)
def test_subgraph_special_character_ids_match_bruteforce(
    catalog, authors, works, hops, exclude
):
    assert_matches(catalog, authors, works, hops, exclude)


def test_subgraph_id_membership_is_exact(catalog):
    """Ids reach the engine as data, never as SQL text: prefixes, halves
    of a comma id and injection-shaped strings match nothing."""
    for bad in ["x", "y", "a", "o", "' OR '1'='1", "') OR ('1'='1", '"]', "%"]:
        assert subgraph(catalog, [], [bad], 1) == {"error": f"Invalid ID: '{bad}'"}
    base = subgraph(catalog, ["o'q"], [], 2)
    for junk in (["a", "b", "o"], ["' OR '1'='1"], ["\\"], [","]):
        resp = subgraph(catalog, ["o'q"], [], 2, junk)
        assert resp["graph"] == base["graph"]


def test_id_set_filter_is_exact(catalog):
    """The id-set helper behind every serving lookup matches whole ids
    only, whatever characters they hold."""
    ids = ["x", "o'q", "a\\b", "10", "' OR '1'='1", "x,y,", ""]
    got = {
        r.id for r in catalog["entities"].filter(serving._in_ids(F.col("id"), ids)).collect()
    }
    assert got == {"o'q", "a\\b"}
    assert serving.entity_labels_response(catalog["entities"], ["1", "10", "100"]) == {
        "labels": {"100": "Ānanda"}
    }


def test_subgraph_unknown_seed_is_invalid_id(catalog):
    assert subgraph(catalog, ["999"], [], 1) == {"error": "Invalid ID: '999'"}
    # a pruned Person row is unknown too
    assert subgraph(catalog, ["102"], [], 0) == {"error": "Invalid ID: '102'"}


def test_subgraph_dangling_id_reached_by_bfs_is_invalid_id(catalog):
    assert ("150", "206") in catalog["edge_list"] and "150" not in catalog["types"]
    assert_matches(catalog, [], ["206"], 0, [])
    assert subgraph(catalog, [], ["206"], 1) == {"error": "Invalid ID: '150'"}
    # excluding the work keeps the BFS from reaching the dangling id
    assert_matches(catalog, [], ["206"], 1, ["206"])


def test_subgraph_validation(catalog):
    assert subgraph(catalog, [], [], 1) == {
        "error": "require either one or both of authors or works"
    }
    for hops in (-1, 1.5, True, "1"):
        assert subgraph(catalog, ["100"], [], hops) == {
            "error": "hops must be a non-negative integer"
        }


def test_subgraph_exclude_list_must_be_a_list(catalog):
    """Validation sees the raw input: a string is an error, not the set
    of its characters."""
    err = {"error": "exclude_list must be a list"}
    assert subgraph(catalog, ["100"], [], 1, "123") == err
    assert subgraph(catalog, ["100"], [], 1, ("200",)) == err


def test_subgraph_serving_cap(catalog, monkeypatch):
    """Over the cap raises ServingCapExceeded; exactly at the cap serves."""
    req = (["o'q"], [], 1)
    want = brute_force(catalog, *req, [])
    n = len(want["nodes"])
    # every other collect of this request (3 edges, 2 e-text rows) fits
    # under a cap of n, so the node set is what crosses it
    assert len(want["edges"]) <= n
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", n - 1)
    with pytest.raises(serving.ServingCapExceeded, match="subgraph node set"):
        subgraph(catalog, *req)
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", n)
    assert len(subgraph(catalog, *req)["graph"]["nodes"]) == n
    # a cap crossed at an early hop stops the BFS there
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 2)
    with pytest.raises(serving.ServingCapExceeded):
        subgraph(catalog, ["100"], [], 3)


def _warm_request_jobs(spark, catalog, hops):
    subgraph(catalog, ["100"], [], hops)  # warm
    resp, jobs = count_jobs(spark, lambda: subgraph(catalog, ["100"], [], hops))
    assert "graph" in resp
    return jobs


def test_subgraph_one_hop_job_count(spark, catalog):
    """Regression guard on the per-hop collect: a 1-hop request is one
    hop collect and one closing collect, 2 Spark jobs (the four-collect
    path ran 7, the distributed k-hop loop more than 20)."""
    assert 0 < _warm_request_jobs(spark, catalog, 1) <= 2


@pytest.mark.parametrize("hops,most", [(0, 1), (4, 5)])
def test_subgraph_jobs_per_hop(spark, catalog, hops, most):
    """A k-hop request is at most one Spark job per hop plus one."""
    assert 0 < _warm_request_jobs(spark, catalog, hops) <= most


def test_subgraph_py4j_round_trips(catalog):
    """A warm 1-hop request builds only its id-set literals and two
    collects: 52 py4j commands here, where rebuilding the projection
    columns per request sent over 1,000."""
    subgraph(catalog, ["100"], [], 1)  # warm: builds the catalog's projections
    resp, sent = count_py4j(lambda: subgraph(catalog, ["100"], [], 1))
    assert "graph" in resp
    assert sent <= 100


def test_subgraph_serves_duplicate_edge_rows(catalog):
    """Every edge row arrives exactly once, so a duplicated row of the
    edges frame is served twice, whether a hop or the closing collect
    brings it."""
    edges = catalog["edges"]
    dup_cat = {
        **catalog,
        "edges": edges.union(edges.filter(F.col("dst") == "200")),
        "edge_list": catalog["edge_list"] + [e for e in catalog["edge_list"] if e[1] == "200"],
    }
    for req in (
        (["100"], [], 1, []),
        (["100", "101"], ["200"], 0, []),
        (["100"], [], 2, ["200"]),
    ):
        resp = assert_matches(dup_cat, *req)
        pairs = [(e["source"], e["target"]) for e in resp["graph"]["edges"]]
        assert pairs.count(("100", "200")) == 2


# A request whose node set (6), e-text rows (6) and induced edges (7) are
# each at most 7 rows, together 19.
FULL = (["100", "101"], ["200", "201", "202", "207"], 0)


def test_subgraph_union_parts_capped_alone(catalog, monkeypatch):
    """The one collect of a union serves when each part is within the
    cap, as the separate collects did, though the parts sum past it."""
    want = brute_force(catalog, *FULL, [])
    assert (len(want["nodes"]), len(want["edges"])) == (6, 7)
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 7)
    assert_matches(catalog, *FULL, [])


def test_every_serving_surface_raises_over_cap(catalog, monkeypatch):
    """Each collect surface raises ServingCapExceeded naming itself."""
    ent, links = catalog["entities"], catalog["links"]
    cases = [
        (2, lambda: subgraph(catalog, ["o'q"], [], 1), "subgraph node set"),
        (6, lambda: subgraph(catalog, *FULL), "subgraph edge set"),
        (3, lambda: subgraph(catalog, [], ["200"], 0), "subgraph e-text annotation"),
        (2, lambda: serving.by_collection_response(links, "GRETIL"), "e-text link mapping"),
        (1, lambda: serving.unique_to_collection_response(links, "GRETIL"),
         "e-text link mapping"),
        (1, lambda: serving.overlap_response(links, "GRETIL", "SARIT"), "e-text link mapping"),
        (1, lambda: serving.by_work_response(links, ent, "200,201"), "work id set"),
        (1, lambda: serving.entity_labels_response(ent, ["100", "200"]), "entity label set"),
        (2, lambda: serving.dropdown_options(ent), "dropdown option set"),
        (1, lambda: serving.visualize_collection_params(links, ent, "DCS"),
         "visualize author set"),
    ]
    for cap, call, what in cases:
        monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 10**5)
        call()  # serves under the default cap
        monkeypatch.setattr(serving, "SERVING_MAX_ROWS", cap)
        with pytest.raises(serving.ServingCapExceeded, match=what):
            call()


def test_by_work_id_probe_is_capped(catalog, monkeypatch):
    """The valid-work-id probe collects under the serving cap: at the cap
    it serves, one past it raises before any link is fetched."""
    ent, links = catalog["entities"], catalog["links"]
    want = _nested(catalog["link_rows"], {"201", "202"})
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 10)
    assert serving.by_work_response(links, ent, "201,202,100,999") == want
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 2)
    assert serving.by_work_response(links, ent, "201,202") == want
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 1)
    with pytest.raises(serving.ServingCapExceeded, match="work id set"):
        serving.by_work_response(links, ent, "201,202")


@pytest.mark.parametrize(
    "c1,c2", [("GRETIL", "SARIT"), ("SARIT", "DCS"), ("DCS", "GRETIL"), ("GRETIL", "GRETIL")]
)
def test_seti_overlap_matches_bruteforce(spark, catalog, c1, c2):
    """overlap_response in one tagged collect: the three-way partition of
    works across two collections, each side restricted to its own."""
    colls = defaultdict(set)
    for wid, coll, _, _ in catalog["link_rows"]:
        colls[wid].add(coll)

    def side(works, keep):
        rows = [r for r in catalog["link_rows"] if r[1] in keep]
        return _nested(rows, works)

    want = {
        "overlap": side({w for w, cs in colls.items() if {c1, c2} <= cs}, {c1, c2}),
        f"only_in_{c1}": side({w for w, cs in colls.items() if c1 in cs and c2 not in cs}, {c1}),
        f"only_in_{c2}": side({w for w, cs in colls.items() if c2 in cs and c1 not in cs}, {c2}),
    }
    got, jobs = count_jobs(spark, lambda: serving.overlap_response(catalog["links"], c1, c2))
    assert got == want
    assert jobs <= 6
