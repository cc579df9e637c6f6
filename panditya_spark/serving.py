"""Serving layer: the reference's API surface (SURVEY §3) composed
from engine operators. Each function returns the exact response shape
of the corresponding Flask endpoint; dict shaping happens at the
collect() boundary exactly as the reference's jsonify boundary.

Flagship: subgraph_response == POST /api/graph/subgraph
(flask_app.py:183-252): validate → k-hop BFS with exclusion
(grapher.py:25-94) → annotate (grapher.py:118-137) → per-type node
projection + edge relationship phrases → response dict.

A served subgraph is at most SERVING_MAX_ROWS nodes, so its BFS state
is small by construction and lives on the driver (the Pregelix rule:
pick the physical plan by the active-vertex count). The visited map
and the frontier are Python values; each hop is one bounded collect of
the edges touching the frontier, and three more bounded collects fetch
the node projection, the e-text rows and the induced edges, so a
1-hop request is a handful of Spark jobs (7 on the perfbench serve
catalog) with no per-request adjacency build or checkpoint. Id sets
reach the JVM as one JSON literal (_in_ids), never spliced into SQL
text.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from panditya_spark.etl import fold_nested_links
from panditya_spark.functions.labels import date_info, edge_relationship

# Serving-boundary row cap (VERDICT r8 #4): every response path here
# collects into the driver — correct reference parity (the jsonify
# boundary, SURVEY §3.1), but at 100× a hub-seeded 3-hop subgraph can
# pull millions of rows into driver memory. The cap turns that from an
# OOM into a clear client-side error. Collects probe limit(cap+1), so
# the engine never computes more than cap+1 rows of an over-cap result.
# The subgraph BFS frontier is held on the driver under the same cap:
# the visited count is checked after every hop, so an over-cap request
# stops at the hop that crosses the cap.
import os as _os

SERVING_MAX_ROWS = int(_os.environ.get("SPARK_GRAFT_SERVING_MAX_ROWS", "100000"))


class ServingCapExceeded(ValueError):
    """A serving response would exceed SERVING_MAX_ROWS collected rows."""


def _cap_exceeded(what: str, cap: int) -> ServingCapExceeded:
    return ServingCapExceeded(
        f"{what} too large: more than {cap} rows at the serving "
        "boundary (raise SPARK_GRAFT_SERVING_MAX_ROWS or narrow the "
        "request)"
    )


def _bounded_collect(df: DataFrame, what: str, cap: int | None = None) -> list:
    """collect() guarded by the serving row cap: fetch cap+1 rows via
    limit() and raise loudly when the extra row shows up. An at-cap
    result serves normally; the error names the surface and the cap so
    the client can narrow the request (fewer hops, tighter exclude)."""
    cap = SERVING_MAX_ROWS if cap is None else cap
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise _cap_exceeded(what, cap)
    return rows


def _json_lit(value, ddl: str) -> Column:
    """A Python list/dict as one typed literal column: a single JSON
    string parsed by from_json (constant-folded by the optimizer). Any
    number of values crosses to the JVM in a constant number of py4j
    calls — Column.isin makes one call per value — and no value is
    ever spliced into SQL text, so user-supplied ids cannot inject."""
    return F.from_json(F.lit(json.dumps(value)), ddl)


def _in_ids(col: Column, ids) -> Column:
    """col ∈ ids, exact string membership."""
    return F.array_contains(_json_lit(list(ids), "array<string>"), col)


def validate_subgraph_inputs(authors, works, hops, exclude_list):
    """flask_app.py:163-170 — same messages, same order."""
    if not authors and not works:
        return {"error": "require either one or both of authors or works"}
    if not isinstance(hops, int) or isinstance(hops, bool) or hops < 0:
        return {"error": "hops must be a non-negative integer"}
    if not isinstance(exclude_list, list):
        return {"error": "exclude_list must be a list"}
    return None


def _frontier_bfs(
    edges: DataFrame, center: list[str], hops: int, exclude: set[str]
) -> dict[str, int]:
    """node → dist for the undirected k-hop ball around center, in BFS
    order. Excluded nodes are visited but never expanded
    (grapher.py:48-50). Each hop is one bounded collect of the edges
    touching the expandable frontier; every such edge ends inside the
    final node set, so its cap is never tighter than the induced-edge
    collect's."""
    dist = dict.fromkeys(center, 0)
    frontier = center
    for depth in range(1, hops + 1):
        expand = {n for n in frontier if n not in exclude}
        if not expand:
            break
        touching = _bounded_collect(
            edges.filter(_in_ids(F.col("src"), expand) | _in_ids(F.col("dst"), expand))
            .select("src", "dst"),
            "subgraph edge set",
        )
        frontier = []
        for src, dst in touching:
            for a, b in ((src, dst), (dst, src)):
                if a in expand and b not in dist:
                    dist[b] = depth
                    frontier.append(b)
        if len(dist) > SERVING_MAX_ROWS:
            raise _cap_exceeded("subgraph node set", SERVING_MAX_ROWS)
    return dist


def subgraph_response(
    entities: DataFrame,
    edges: DataFrame,
    etext_links: DataFrame | None,
    authors: list[str],
    works: list[str],
    hops: int,
    exclude_list: list[str] | None = None,
) -> dict:
    """Full §3.1 lifecycle. entities/edges come from etl.py;
    etext_links is the (work_id, collection, subtype, url) long table
    or None. Returns the flask_app.py:233-245 response dict, nodes in
    BFS order."""
    exclude_list = [] if exclude_list is None else exclude_list
    err = validate_subgraph_inputs(authors, works, hops, exclude_list)
    if err is not None:
        return err
    authors = list(dict.fromkeys(authors or []))
    works = list(dict.fromkeys(works or []))
    exclude_list = list(set(exclude_list))
    excluded = set(exclude_list)
    center = list(dict.fromkeys(authors + works))
    dist = _frontier_bfs(edges, center, hops, excluded)

    dates = date_info(
        F.col("type"),
        F.col("lowest_year"),
        F.col("highest_year"),
        F.col("author_lowest_year"),
        F.col("author_highest_year"),
    )
    by_id = {
        r.id: r
        for r in _bounded_collect(
            entities.filter(_in_ids(F.col("id"), dist)).select(
                "id",
                F.col("name").alias("label"),
                "type",
                "aka",
                F.when(F.col("type") == "author", F.col("social_identifiers")).alias("social_ids"),
                dates.alias("dates"),
                F.when(F.col("type") == "work", F.col("discipline")).alias("discipline"),
                F.when(F.col("type") == "author", F.col("disciplines")).alias("disciplines"),
            ),
            "subgraph node set",
        )
    }
    # Unknown ids (a bad seed, or a dangling id the BFS reached) → the
    # reference raises KeyError → 400, naming the first one.
    unknown = next((n for n in dist if n not in by_id), None)
    if unknown is not None:
        return {"error": f"Invalid ID: '{unknown}'"}

    # e-text annotation (J7): nested per-work shape from the long table.
    links_by_work = (
        _nested_links(
            etext_links.filter(_in_ids(F.col("work_id"), dist)),
            "subgraph e-text annotation",
        )
        if etext_links is not None
        else {}
    )
    center_set = set(center)
    filtered_nodes = []
    for n in dist:
        r = by_id[n]
        filtered_nodes.append(
            {
                "id": n,
                "label": r.label,
                "type": r.type,
                "aka": r.aka,
                "social_ids": r.social_ids,
                "dates": r.dates,
                "discipline": r.discipline,
                "disciplines": r.disciplines,
                "is_central": n in center_set,
                "is_excluded": n in excluded,
                # reference uses False (not None) for works without links
                "etext_links": links_by_work.get(n, False),
            }
        )

    # Induced edges, typed from the node projection: one id → type map
    # literal both restricts the edges to the node set and feeds the
    # relationship phrase.
    types = _json_lit({n: by_id[n].type for n in dist}, "map<string,string>")
    src_t, dst_t = types[F.col("src")], types[F.col("dst")]
    typed_edges = _bounded_collect(
        edges.filter(src_t.isNotNull() & dst_t.isNotNull()).select(
            "src", "dst", edge_relationship(src_t, dst_t).alias("rel")
        ),
        "subgraph edge set",
    )
    filtered_edges = [
        {"source": e.src, "target": e.dst, "relationship": e.rel} for e in typed_edges
    ]

    return {
        "parameters": {
            "authors": authors,
            "works": works,
            "hops": hops,
            "exclude_list": exclude_list,
        },
        "graph": {"nodes": filtered_nodes, "edges": filtered_edges},
    }


def _nested_links(links: DataFrame, what: str = "e-text link mapping") -> dict:
    """work_id → collection → (sorted url list | subtype → sorted url
    list), single-subtype collections flattened to the bare list — the
    ETEXT_LINKS value shape (transform.py:246-270). Aggregation in
    Spark, dict fold at the collect boundary."""
    return fold_nested_links(
        _bounded_collect(
            links.groupBy("work_id", "collection", "subtype").agg(
                F.array_sort(F.collect_set("url")).alias("urls")
            ),
            what,
        )
    )


def valid_collections(links: DataFrame) -> list[str]:
    """VALID_COLLECTIONS (flask_app.py:24): the collections known to the
    e-text summary — here, the distinct collections in the links table."""
    return [r.collection for r in links.select("collection").distinct().collect()]


def by_collection_response(
    links: DataFrame, collection: str | None, include_other_collections: bool = False
) -> dict:
    """GET /api/seti/by_collection (flask_app.py:297-328 over
    get_works_by_collection, flask_app.py:261-293): every work that has
    at least one link in `collection`; other collections' contributions
    are hidden unless include_other_collections. 'all' returns the full
    mapping. The '...' placeholder work id is dropped."""
    if not collection:
        return {"error": "Missing required parameter: collection"}
    if collection.lower() == "all":
        # flask_app.py:274-275 returns ETEXT_LINKS verbatim — the '...'
        # placeholder is only popped in the per-collection path.
        return _nested_links(links)
    valid = valid_collections(links)
    if collection not in valid:
        return {"error": f"Invalid collection: {collection}. Valid options: {sorted(valid)}"}
    in_coll = links.filter(F.col("collection") == collection).select("work_id").distinct()
    sub = links.join(in_coll, "work_id", "left_semi").filter(F.col("work_id") != "...")
    if not include_other_collections:
        sub = sub.filter(F.col("collection") == collection)
    return _nested_links(sub)


def unique_to_collection_response(links: DataFrame, collection: str | None) -> dict:
    """GET /api/seti/by_collection/unique (flask_app.py:331-361): works
    whose ONLY collection is `collection`, restricted to it."""
    if not collection:
        return {"error": "Missing required parameter: collection"}
    valid = valid_collections(links)
    if collection not in valid:
        return {"error": f"Invalid collection: {collection}. Valid options: {sorted(valid)}"}
    only = (
        links.groupBy("work_id")
        .agg(F.collect_set("collection").alias("colls"))
        .filter((F.size("colls") == 1) & (F.col("colls")[0] == collection))
        .select("work_id")
    )
    return _nested_links(links.join(only, "work_id", "left_semi"))


def overlap_response(
    links: DataFrame, collection1: str | None, collection2: str | None
) -> dict:
    """GET /api/seti/by_collection/overlap (flask_app.py:364-416):
    three-way partition of works across two collections, each side
    restricted to its own collection(s)."""
    if not collection1 or not collection2:
        return {"error": "Both collection1 and collection2 are required"}
    valid = valid_collections(links)
    if collection1 not in valid or collection2 not in valid:
        return {
            "error": f"Invalid collection(s): {collection1}, {collection2}. "
            f"Valid options: {sorted(valid)}"
        }
    member = links.groupBy("work_id").agg(F.collect_set("collection").alias("colls"))
    in1 = F.array_contains("colls", collection1)
    in2 = F.array_contains("colls", collection2)
    both = member.filter(in1 & in2).select("work_id")
    only1 = member.filter(in1 & ~in2).select("work_id")
    only2 = member.filter(in2 & ~in1).select("work_id")
    pair = links.filter(F.col("collection").isin([collection1, collection2]))
    return {
        "overlap": _nested_links(pair.join(both, "work_id", "left_semi")),
        f"only_in_{collection1}": _nested_links(
            pair.filter(F.col("collection") == collection1).join(
                only1, "work_id", "left_semi"
            )
        ),
        f"only_in_{collection2}": _nested_links(
            pair.filter(F.col("collection") == collection2).join(
                only2, "work_id", "left_semi"
            )
        ),
    }


def by_work_response(links: DataFrame, entities: DataFrame, ids_param: str | None) -> dict:
    """GET /api/seti/by_work (flask_app.py:419-454): comma-separated
    numeric ids → nested link data for the valid WORK ids among them."""
    import re

    if not ids_param or not ids_param.strip():
        return {"error": "List input must be non-empty."}
    stripped = ids_param.strip()
    if not re.fullmatch(r"[\d,]*", stripped):
        return {
            "error": "List input should not contain any characters besides numbers "
            "and comma (no whitespace, quotation marks, etc.)"
        }
    ids = [i for i in stripped.split(",") if i]
    if not ids:
        return {"error": "No IDs provided"}
    valid_ids = {
        r.id
        for r in entities.filter(
            (F.col("type") == "work") & _in_ids(F.col("id"), ids)
        ).select("id").collect()
    }
    if not valid_ids:
        return {"error": "No valid work IDs provided"}
    return _nested_links(links.filter(_in_ids(F.col("work_id"), valid_ids)))


def visualize_collection_params(
    links: DataFrame, entities: DataFrame, collection: str
) -> dict:
    """GET /seti/by_collection/<collection>/visualize
    (flask_app.py:467-490): the initial_params handed to the D3 page —
    the collection's works plus every author of those works."""
    works_data = by_collection_response(links, collection)
    if "error" in works_data and isinstance(works_data.get("error"), str):
        return works_data
    works = list(works_data.keys())
    author_rows = _bounded_collect(
        entities.filter(_in_ids(F.col("id"), works))
        .select(F.explode_outer("author_ids").alias("aid"))
        .filter(F.col("aid").isNotNull())
        .distinct(),
        "visualize author set",
    )
    return {
        "works": works,
        "authors": [r.aid for r in author_rows],
        "hops": 0,
        "exclude_list": [],
        "repulsion": 50,
    }


def entity_labels_response(entities: DataFrame, ids: list[str]) -> dict:
    """GET /api/entities/labels (flask_app.py:109-146) — returns labels
    only for VALID ids (the reference builds from unvalidated input and
    can KeyError; SURVEY §3.4 documents the fix)."""
    import re

    if any(not re.fullmatch(r"[\d,]*", i) for i in ids):
        return {"error": "invalid id format"}
    rows = _bounded_collect(
        entities.filter(_in_ids(F.col("id"), ids)).select(
            "id", F.col("name").alias("label")
        ),
        "entity label set",
    )
    return {"labels": {r.id: r.label for r in rows}}


def dropdown_options(entities: DataFrame) -> dict:
    """GET /api/entities/{authors|works|all} (flask_app.py:59-73,95-106):
    '{name} ({id})' + optional date/aka brackets, collation-sorted.
    Built once per session in the reference; same here (cache the
    result)."""
    from panditya_spark.functions.collation import collate
    from panditya_spark.functions.labels import date_info, dropdown_label

    dates = date_info(
        F.col("type"),
        F.col("lowest_year"),
        F.col("highest_year"),
        F.col("author_lowest_year"),
        F.col("author_highest_year"),
    )
    labeled = entities.select(
        "id",
        "type",
        dropdown_label(F.col("name"), F.col("id"), dates, F.col("aka")).alias("label"),
    ).orderBy(collate(F.col("label")))
    rows = _bounded_collect(labeled, "dropdown option set")
    out = {"all": [], "authors": [], "works": []}
    for r in rows:
        opt = {"id": r.id, "label": r.label}
        out["all"].append(opt)
        out[r.type + "s"].append(opt)
    return out
