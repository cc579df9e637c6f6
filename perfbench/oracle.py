"""Independent answers for the serving workload, computed in pure Python
from the catalog generator's ground truth (never from the engine).

Subgraph semantics follow grapher.py as SURVEY.md §3.1 describes them:
undirected level-synchronous BFS from the centre for ``hops`` rounds;
excluded nodes are visited but never expanded; the periphery is trimmed,
so the edges are exactly those with both endpoints visited.
"""

from __future__ import annotations

from collections import defaultdict

from catalog import INSPIRED, WROTE, Catalog

RELATIONSHIP = {
    WROTE: "source author wrote target work",
    INSPIRED: "source base text inspired target commentary",
}


def nested_links(links) -> dict:
    """work_id -> collection -> (url list | subtype -> url list), sorted
    and de-duplicated, single-subtype collections flattened to the list
    (transform.py:246-270)."""
    acc: dict = defaultdict(lambda: defaultdict(lambda: defaultdict(set)))
    for wid, coll, sub, url in links:
        acc[wid][coll][sub].add(url)
    out: dict = {}
    for wid, colls in acc.items():
        out[wid] = {}
        for coll, subs in colls.items():
            if len(subs) == 1:
                out[wid][coll] = sorted(next(iter(subs.values())))
            else:
                out[wid][coll] = {s: sorted(u) for s, u in subs.items()}
    return out


class ServeOracle:
    def __init__(self, cat: Catalog) -> None:
        self.cat = cat
        self.nested = nested_links(cat.links)
        self.colls_of: dict[str, set[str]] = defaultdict(set)
        for wid, coll, _, _ in cat.links:
            self.colls_of[wid].add(coll)
        self.out_edges: dict[str, list[tuple[str, str]]] = defaultdict(list)
        for s, d, rel in cat.edges:
            self.out_edges[s].append((d, rel))

    # ------------------------------------------------------------ subgraph
    def bfs(self, center: set[str], hops: int, exclude: set[str]) -> dict[str, int]:
        dist = {c: 0 for c in center}
        frontier = sorted(center)
        for d in range(1, hops + 1):
            nxt = []
            for n in frontier:
                if n in exclude:
                    continue
                for nb in sorted(self.cat.adjacency[n]):
                    if nb not in dist:
                        dist[nb] = d
                        nxt.append(nb)
            if not nxt:
                break
            frontier = nxt
        return dist

    def subgraph(self, authors, works, hops, exclude) -> dict:
        center = set(authors) | set(works)
        excl = set(exclude)
        visited = self.bfs(center, hops, excl)
        nodes = {}
        for n in visited:
            etype, name = self.cat.entities[n]
            nodes[n] = {
                "label": name,
                "type": etype,
                "is_central": n in center,
                "is_excluded": n in excl,
                "etext_links": self.nested.get(n, False),
            }
        edges = sorted(
            (s, d, RELATIONSHIP[rel])
            for s in visited
            for d, rel in self.out_edges[s]
            if d in visited
        )
        return {"nodes": nodes, "edges": edges}

    def check_subgraph(self, req: dict, resp: dict) -> str | None:
        if "error" in resp:
            return f"error response: {resp['error']}"
        want = self.subgraph(req["authors"], req["works"], req["hops"], req["exclude"])
        p = resp["parameters"]
        if (
            p["authors"] != list(dict.fromkeys(req["authors"]))
            or p["works"] != list(dict.fromkeys(req["works"]))
            or p["hops"] != req["hops"]
            or set(p["exclude_list"]) != set(req["exclude"])
        ):
            return "parameters differ"
        got_nodes = resp["graph"]["nodes"]
        if len(got_nodes) != len(want["nodes"]):
            return f"{len(got_nodes)} nodes, expected {len(want['nodes'])}"
        for n in got_nodes:
            exp = want["nodes"].get(n["id"])
            if exp is None:
                return f"unexpected node {n['id']}"
            for key, val in exp.items():
                if n[key] != val:
                    return f"node {n['id']} {key}={n[key]!r}, expected {val!r}"
        got_edges = sorted(
            (e["source"], e["target"], e["relationship"]) for e in resp["graph"]["edges"]
        )
        if got_edges != want["edges"]:
            return f"{len(got_edges)} edges differ from the {len(want['edges'])} expected"
        return None

    # ---------------------------------------------------------------- SETI
    def _restrict(self, works, colls=None) -> dict:
        return nested_links(
            lk for lk in self.cat.links
            if lk[0] in works and (colls is None or lk[1] in colls)
        )

    def by_collection(self, coll: str, include_other: bool) -> dict:
        if coll == "all":
            return self.nested
        works = {w for w, cs in self.colls_of.items() if coll in cs and w != "..."}
        return self._restrict(works, None if include_other else {coll})

    def unique(self, coll: str) -> dict:
        return self._restrict({w for w, cs in self.colls_of.items() if cs == {coll}})

    def overlap(self, c1: str, c2: str) -> dict:
        both = {w for w, cs in self.colls_of.items() if c1 in cs and c2 in cs}
        only1 = {w for w, cs in self.colls_of.items() if c1 in cs and c2 not in cs}
        only2 = {w for w, cs in self.colls_of.items() if c2 in cs and c1 not in cs}
        return {
            "overlap": self._restrict(both, {c1, c2}),
            f"only_in_{c1}": self._restrict(only1, {c1}),
            f"only_in_{c2}": self._restrict(only2, {c2}),
        }

    # -------------------------------------------------------------- lookup
    def labels(self, ids: list[str]) -> dict:
        return {
            "labels": {i: self.cat.entities[i][1] for i in ids if i in self.cat.entities}
        }

    def by_work(self, ids_param: str) -> dict:
        ids = {i for i in ids_param.split(",") if i}
        valid = {i for i in ids if self.cat.entities.get(i, ("",))[0] == "work"}
        return {w: self.nested[w] for w in valid if w in self.nested}

    def expected(self, req: dict):
        kind = req["op"]
        if kind == "by_collection":
            return self.by_collection(req["collection"], req["include_other"])
        if kind == "unique":
            return self.unique(req["collection"])
        if kind == "overlap":
            return self.overlap(req["collection1"], req["collection2"])
        if kind == "labels":
            return self.labels(req["ids"])
        if kind == "by_work":
            return self.by_work(req["ids"])
        raise ValueError(kind)

    def check(self, req: dict, resp) -> str | None:
        if req["op"] == "subgraph":
            return self.check_subgraph(req, resp)
        if isinstance(resp, dict) and isinstance(resp.get("error"), str):
            return f"error response: {resp['error']}"
        if resp != self.expected(req):
            return "response differs from the expected one"
        return None
