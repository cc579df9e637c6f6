"""The ``serve`` workload: one client in a closed loop against the
serving layer, over a seeded synthetic Pandit/SETI catalog.

Of every 10 requests, 7 are subgraph requests, 2 SETI requests and 1 a
lookup. Subgraph requests come in short sessions of 2-4 that reuse the
same seeds and grow by one exclusion or one hop per step.
"""

from __future__ import annotations

import os
import random
import time

import catalog
from harness import Run, median
from oracle import ServeOracle

COLLECTIONS = sorted(catalog.SETI_SUBTYPES)
# The stream's shape is a fixed cycle and the seed picks its content
# (seed nodes, exclusions, collections, ids), so every run sends the same
# mix of request kinds and hop counts.
# Request kinds: 7 subgraph, 2 SETI, 1 lookup per 10. Subgraph sessions
# run on across the interleaved SETI and lookup requests.
_CYCLE = ["subgraph", "subgraph", "lookup", "seti", "subgraph",
          "subgraph", "subgraph", "seti", "subgraph", "subgraph"]
# Per subgraph session: its length and its first hop count, mostly the
# web default of 1, some 0 and 2, and a few deep ones. Steps alternate
# between adding an exclusion and adding a hop; every fourth session
# starts with an exclusion.
_SESSION_LENGTHS = [2, 2, 3, 4, 3]
_START_HOPS = [1, 4, 1, 2, 1, 0, 1, 2]
MAX_HOPS = 6
DEEP_HOPS = 4
# Every run completes the first PREFIX requests, whatever --seconds says,
# and every latency figure comes from them, so a faster or slower program
# is timed on the same requests: subgraph at hops 1 and 1 (+1 exclusion),
# one lookup, one SETI request and one deep subgraph request at hops 4.
PREFIX = 5


class RequestStream:
    """Seeded, endless request stream. Follow-up requests in a session
    are derived from the expected answer of the previous one, so the
    stream depends only on the seed and the catalog."""

    def __init__(self, cat: catalog.Catalog, oracle: ServeOracle, seed: int) -> None:
        self.rng = random.Random(seed * 7919 + 17)
        self.cat = cat
        self.oracle = oracle
        # Seeds are drawn in proportion to degree, so hubs recur.
        self.nodes = sorted(n for n, nb in cat.adjacency.items() if nb)
        self.weights = [len(cat.adjacency[n]) for n in self.nodes]
        self.works = sorted(n for n, (t, _) in cat.entities.items() if t == "work")
        self.ids = sorted(cat.entities)
        self.queue: list[dict] = []
        self.n = 0
        self.sessions = 0

    def __iter__(self):
        return self

    def __next__(self) -> dict:
        k = _CYCLE[self.n % len(_CYCLE)]
        self.n += 1
        if k == "seti":
            return self._seti()
        if k == "lookup":
            return self._lookup()
        if not self.queue:
            self.queue = self._subgraph_session()
        return self.queue.pop(0)

    def _subgraph_session(self) -> list[dict]:
        i = self.sessions
        self.sessions += 1
        rng = self.rng
        seeds = sorted(set(rng.choices(self.nodes, self.weights, k=rng.choice((1, 1, 2, 3)))))
        hops = _START_HOPS[i % len(_START_HOPS)]
        exclude: list[str] = []
        if i % 4 == 3:
            exclude = self._exclusion(seeds, hops, exclude)
        reqs = []
        for step in range(_SESSION_LENGTHS[i % len(_SESSION_LENGTHS)]):
            reqs.append(self._subgraph(seeds, hops, exclude))
            more = self._exclusion(seeds, hops, exclude) if step % 2 == 0 else exclude
            if more == exclude:
                hops = min(hops + 1, MAX_HOPS)
            exclude = more
        return reqs

    def _exclusion(self, seeds: list[str], hops: int, exclude: list[str]) -> list[str]:
        """``exclude`` plus one non-central node of the current answer."""
        dist = self.oracle.bfs(set(seeds), max(hops, 1), set(exclude))
        cands = sorted(n for n, d in dist.items() if d > 0 and n not in exclude)
        if not cands:
            return exclude
        return exclude + [self.rng.choice(cands)]

    def _subgraph(self, seeds: list[str], hops: int, exclude: list[str]) -> dict:
        types = self.cat.entities
        return {
            "op": "subgraph",
            "authors": [s for s in seeds if types[s][0] == "author"],
            "works": [s for s in seeds if types[s][0] == "work"],
            "hops": hops,
            "exclude": list(exclude),
        }

    def _seti(self) -> dict:
        rng = self.rng
        r = rng.random()
        if r < 0.5:
            coll = "all" if rng.random() < 0.05 else rng.choice(COLLECTIONS)
            return {"op": "by_collection", "collection": coll,
                    "include_other": rng.random() < 0.5}
        if r < 0.75:
            return {"op": "unique", "collection": rng.choice(COLLECTIONS)}
        c1, c2 = rng.sample(COLLECTIONS, 2)
        return {"op": "overlap", "collection1": c1, "collection2": c2}

    def _lookup(self) -> dict:
        rng = self.rng
        if rng.random() < 0.5:
            ids = rng.sample(self.ids, rng.randrange(1, 16))
            if rng.random() < 0.3:
                ids.append(str(rng.randrange(100000, 999999)))  # unknown id
            return {"op": "labels", "ids": ids}
        ids = rng.sample(self.works, rng.randrange(1, 8)) + rng.sample(self.ids, 2)
        return {"op": "by_work", "ids": ",".join(ids)}


def kind(req: dict) -> str:
    if req["op"] == "subgraph":
        return "subgraph_deep" if req["hops"] >= DEEP_HOPS else "subgraph"
    return "lookup" if req["op"] in ("labels", "by_work") else "seti"


def call(frames: dict, req: dict):
    from panditya_spark import serving

    entities, edges, links = frames["entities"], frames["edges"], frames["links"]
    op = req["op"]
    if op == "subgraph":
        return serving.subgraph_response(
            entities, edges, links, req["authors"], req["works"], req["hops"],
            req["exclude"],
        )
    if op == "by_collection":
        return serving.by_collection_response(links, req["collection"], req["include_other"])
    if op == "unique":
        return serving.unique_to_collection_response(links, req["collection"])
    if op == "overlap":
        return serving.overlap_response(links, req["collection1"], req["collection2"])
    if op == "labels":
        return serving.entity_labels_response(entities, req["ids"])
    return serving.by_work_response(links, entities, req["ids"])


def run(h: Run) -> dict:
    from panditya_spark import etl, serving

    tracer = h.tracer
    cat_dir = os.path.join(h.work_dir, "catalog")
    layer_s: dict[str, float] = {}

    def timed(name: str, layer: str, fn):
        with tracer.span(name, layer):
            t0 = time.perf_counter()
            out = fn()
            layer_s[name] = time.perf_counter() - t0
        return out

    def setup_rep(spark):
        cat = catalog.write_catalog(cat_dir, h.seed)

        def load(df):
            # The server holds the ETL output as materialised tables, as the
            # reference loads its ETL JSON at start-up. A lineage-bearing
            # cache() would make every request re-plan the whole ETL
            # (measured: 12-33 s per subgraph request instead of 2-4 s).
            df = df.localCheckpoint(eager=True)
            return df, df.count()

        entities, n_ent = timed(
            "etl.entities_from_csv.s", "etl",
            lambda: load(etl.entities_from_csv(spark, cat.entities_csv)),
        )
        edges, n_edges = timed(
            "etl.edges_from_entities.s", "etl",
            lambda: load(etl.edges_from_entities(entities)),
        )
        links, n_links = timed(
            "etl.etext_links_from_csv.s", "etl",
            lambda: load(etl.etext_links_from_csv(spark, cat.seti_csv)[0]),
        )
        etl_jobs = h.take_jobs().get("jobs", 0)
        options = timed(
            "serving.dropdown_options.s", "serving",
            lambda: serving.dropdown_options(entities),
        )
        frames = {"entities": entities, "edges": edges, "links": links}
        counts = {"entities": n_ent, "edges": n_edges, "links": n_links}
        return cat, frames, counts, options, etl_jobs

    # One set-up rep: a rep costs about 50 s (the ETL alone about 35 s
    # in a fresh JVM), so repeating it would not fit the run budget.
    setup_s, (cat, frames, counts, options, etl_jobs) = h.setup(setup_rep, reps=1)
    h.take_jobs()
    oracle = ServeOracle(cat)

    failures: list[str] = []
    # Set-up outputs are checked too: ETL row counts against the
    # generator, and the collated dropdown list.
    want = {"entities": len(cat.entities), "edges": len(cat.edges), "links": len(cat.links)}
    if counts != want:
        failures.append(f"ETL counts {counts}, expected {want}")
    failures.extend(_check_dropdown(cat, options))
    setup_checks = 2

    # ------------------------------------------------------------ timed loop
    stream = RequestStream(cat, oracle, h.seed)
    records = []
    t_start = time.perf_counter()
    while len(records) < PREFIX or time.perf_counter() - t_start < h.seconds:
        req = next(stream)
        rid = f"r{len(records)}"
        with tracer.span(req["op"], "serving", rid):
            t0 = time.perf_counter()
            try:
                resp, err = call(frames, req), None
            except Exception as e:  # a raising request is a failed one
                resp, err = None, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
        records.append({"req": req, "resp": resp, "err": err, "s": dt,
                        "acct": h.take_jobs()})
    wall = time.perf_counter() - t_start

    # ------------------------------------------------ checks, outside timing
    for i, r in enumerate(records):
        problem = r["err"] or oracle.check(r["req"], r["resp"])
        if problem:
            failures.append(f"request {i} {r['req']['op']}: {problem}")
        graph = r["resp"].get("graph") if isinstance(r["resp"], dict) else None
        r["rows_out"] = len(graph["nodes"]) + len(graph["edges"]) if graph else 0
        r["resp"] = None

    # Latencies come from the fixed prefix only; the requests after it are
    # checked and counted, but which of them fit depends on speed.
    by_kind: dict[str, list[dict]] = {"subgraph": [], "subgraph_deep": [], "seti": [],
                                      "lookup": []}
    for r in records[:PREFIX]:
        by_kind[kind(r["req"])].append(r)
    sub_s = [r["s"] for r in by_kind["subgraph"]]
    attempted = len(records) + setup_checks

    e2e = {
        "setup_s": setup_s,
        "p50_s": median(sub_s),
    }
    summary = {
        "subgraph_p50_s": median(sub_s),
        "subgraph_samples": len(sub_s),
        "subgraph_deep_s": median([r["s"] for r in by_kind["subgraph_deep"]]),
        "seti_s": median([r["s"] for r in by_kind["seti"]]),
        "lookup_s": median([r["s"] for r in by_kind["lookup"]]),
        "requests_per_s": len(records) / wall,
        "requests": len(records),
        "latencies": [[r["req"]["op"], r["req"].get("hops"), r["s"]] for r in records],
    }

    layers: dict[str, float] = {}
    if h.traced:
        layers = {**_layer_metrics(by_kind), **layer_s, "etl.jobs": etl_jobs}
    return {
        "e2e": e2e, "summary": summary, "per_layer": layers,
        "attempted": attempted, "failures": failures,
    }


def _check_dropdown(cat: catalog.Catalog, options: dict) -> list[str]:
    from panditya_spark.functions.collation import sort_key_py

    n_auth = sum(1 for t, _ in cat.entities.values() if t == "author")
    got = (len(options["all"]), len(options["authors"]), len(options["works"]))
    want = (len(cat.entities), n_auth, len(cat.entities) - n_auth)
    if got != want:
        return [f"dropdown sizes {got}, expected {want}"]
    keys = [sort_key_py(o["label"]) for o in options["all"]]
    if keys != sorted(keys):
        return ["dropdown options are not in collation order"]
    return []


def _layer_metrics(by_kind) -> dict[str, float]:
    def med(rs, key):
        return median([r["acct"][key] for r in rs])

    def gap(rs):
        return median([r["s"] - r["acct"]["job_busy_s"] for r in rs])

    sub, deep = by_kind["subgraph"], by_kind["subgraph_deep"]
    return {
        "serving.subgraph.jobs": med(sub, "jobs"),
        "serving.subgraph.job_busy_s": med(sub, "job_busy_s"),
        "serving.subgraph.driver_gap_s": gap(sub),
        "serving.subgraph.rows_out": median([r["rows_out"] for r in sub]),
        "serving.subgraph_deep.jobs": med(deep, "jobs"),
        "serving.subgraph_deep.s": median([r["s"] for r in deep]),
        "serving.seti.jobs": med(by_kind["seti"], "jobs"),
        "serving.seti.job_busy_s": med(by_kind["seti"], "job_busy_s"),
        "serving.seti.driver_gap_s": gap(by_kind["seti"]),
        "serving.seti.s": median([r["s"] for r in by_kind["seti"]]),
        "serving.lookup.jobs": med(by_kind["lookup"], "jobs"),
        "serving.lookup.driver_gap_s": gap(by_kind["lookup"]),
        "serving.lookup.s": median([r["s"] for r in by_kind["lookup"]]),
    }
