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
and the frontier are Python values. The catalog is projected once per
frame triple into one tagged union of node, e-text and edge rows
(_subgraph_rows), so a request only builds id-set literals: each hop is
one bounded collect of the union, bringing the frontier's node and
e-text rows and the edges it expands, and one closing collect brings
the rest. A k-hop request is k+1 Spark jobs (2 at 1 hop) with no
per-request projection build, adjacency build or checkpoint; the e-text
nesting and the relationship phrase are folded on the driver. Id sets
reach the JVM as one JSON literal per collect (_json_lit), never
spliced into SQL text.
"""

from __future__ import annotations

import functools
import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from panditya_spark.etl import nest_links
from panditya_spark.functions.labels import EDGE_PHRASES, date_info

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


def _tagged_collect(
    df: DataFrame, parts: dict[str, str], got: dict[str, list] | None = None
) -> dict[str, list]:
    """One bounded collect of a tagged union, rows appended per tag to
    got: df's first column is the tag of the part each row belongs to,
    and parts maps each tag to the serving surface it feeds. Each part is
    capped as if it were collected alone, rows already in got included:
    the probe fetches len(parts) * (cap+1) rows, so a result whose parts
    are each within the cap arrives whole, and a truncated one has a
    part over it."""
    cap = SERVING_MAX_ROWS
    got = {t: [] for t in parts} if got is None else got
    for row in df.limit(len(parts) * (cap + 1)).collect():
        got[row[0]].append(row)
    for tag, what in parts.items():
        if len(got[tag]) > cap:
            raise _cap_exceeded(what, cap)
    return got


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


# The subgraph union's tags and the serving surface each one's cap names.
_SUBGRAPH_PARTS = {
    "n": "subgraph node set",
    "l": "subgraph e-text annotation",
    "e": "subgraph edge set",
}


@functools.lru_cache(maxsize=1)
def _entity_dates(sc) -> Column:
    """date_info over the entity columns, built once per SparkContext:
    it takes about 20 Column calls, each a few py4j round trips, and the
    dropdown set-up and every subgraph catalog share it."""
    return date_info(
        F.col("type"),
        F.col("lowest_year"),
        F.col("highest_year"),
        F.col("author_lowest_year"),
        F.col("author_highest_year"),
    )


@functools.lru_cache(maxsize=4)
def _subgraph_rows(
    entities: DataFrame, edges: DataFrame, etext_links: DataFrame | None
) -> DataFrame:
    """The catalog as one single-partition tagged union of string rows,
    built once per frame triple (memoised by frame identity, so a
    request only builds its id-set literals):

        ('n', id, label, type, aka, social_ids, dates, discipline, disciplines)
        ('l', work_id, collection, subtype, url, null x4)
        ('e', src, dst, null x6)

    One partition makes each bounded collect of it one Spark job."""
    null = F.lit(None).cast("string")
    author, work = F.col("type") == "author", F.col("type") == "work"
    parts = [
        entities.select(
            F.lit("n"),
            "id",
            "name",
            "type",
            "aka",
            F.when(author, F.col("social_identifiers")),
            _entity_dates(entities.sparkSession.sparkContext),
            F.when(work, F.col("discipline")),
            F.when(author, F.col("disciplines")),
        ),
        edges.select(F.lit("e"), "src", "dst", *[null] * 6),
    ]
    if etext_links is not None:
        parts.append(
            etext_links.select(F.lit("l"), "work_id", "collection", "subtype", "url", *[null] * 4)
        )
    union = functools.reduce(DataFrame.union, parts)
    return union.toDF("t", "k", "a", "b", "c", "d", "e", "f", "g").coalesce(1)


def _collect_codes(rows: DataFrame, codes: dict[str, int], got: dict[str, list]) -> None:
    """One bounded collect of the subgraph union, its rows picked by one
    id → code map literal. A negative code fetches the node's 'n' and
    'l' rows. The magnitude (1 for an id not in the map) picks the edge
    rows whose two ends' product is at least 4: 4 marks a node expanded
    in this collect, which takes its edges to every node not marked 0 (a
    node expanded earlier, whose edges are already in hand); 2 marks a
    node of the closing collect, which takes the edges marked 2 at both
    ends."""
    pick = F.expr("IF(t = 'e', abs(coalesce(m[k], 1) * coalesce(m[a], 1)) >= 4, m[k] < 0)")
    df = rows.withColumn("m", _json_lit(codes, "map<string,int>")).filter(pick).drop("m")
    _tagged_collect(df, _SUBGRAPH_PARTS, got)


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
    BFS order.

    The BFS is the undirected k-hop ball around the centre; excluded
    nodes are visited but never expanded (grapher.py:48-50). Each hop is
    one collect of the frontier's node and e-text rows and of the edges
    that touch its expandable nodes but no node expanded earlier; the
    closing collect brings the last frontier's rows and the edges between
    nodes never expanded. Every induced edge row arrives exactly once."""
    exclude_list = [] if exclude_list is None else exclude_list
    err = validate_subgraph_inputs(authors, works, hops, exclude_list)
    if err is not None:
        return err
    authors = list(dict.fromkeys(authors or []))
    works = list(dict.fromkeys(works or []))
    exclude_list = list(set(exclude_list))
    excluded = set(exclude_list)
    center = list(dict.fromkeys(authors + works))

    rows = _subgraph_rows(entities, edges, etext_links)
    got: dict[str, list] = {t: [] for t in _SUBGRAPH_PARTS}
    dist = dict.fromkeys(center, 0)
    frontier, done = center, set()
    for depth in range(1, hops + 1):
        expand = {n for n in frontier if n not in excluded}
        if not expand:
            break
        seen = len(got["e"])
        _collect_codes(
            rows,
            dict.fromkeys(done, 0) | dict.fromkeys(frontier, -1) | dict.fromkeys(expand, -4),
            got,
        )
        done |= expand
        frontier = []
        for _, src, dst, *_ in got["e"][seen:]:
            for a, b in ((src, dst), (dst, src)):
                if a in expand and b not in dist:
                    dist[b] = depth
                    frontier.append(b)
        if len(dist) > SERVING_MAX_ROWS:
            raise _cap_exceeded("subgraph node set", SERVING_MAX_ROWS)
    _collect_codes(
        rows,
        {n: 2 for n in dist if n not in done} | dict.fromkeys(frontier, -2),
        got,
    )

    by_id = {r[1]: r for r in got["n"]}
    # Unknown ids (a bad seed, or a dangling id the BFS reached) → the
    # reference raises KeyError → 400, naming the first one.
    unknown = next((n for n in dist if n not in by_id), None)
    if unknown is not None:
        return {"error": f"Invalid ID: '{unknown}'"}

    # e-text annotation (J7): nested per-work shape from the long table.
    links_by_work = nest_links(r[1:5] for r in got["l"])
    center_set = set(center)
    filtered_nodes = []
    for n in dist:
        _, _, label, etype, aka, social_ids, dates, discipline, disciplines = by_id[n]
        filtered_nodes.append(
            {
                "id": n,
                "label": label,
                "type": etype,
                "aka": aka,
                "social_ids": social_ids,
                "dates": dates,
                "discipline": discipline,
                "disciplines": disciplines,
                "is_central": n in center_set,
                "is_excluded": n in excluded,
                # reference uses False (not None) for works without links
                "etext_links": links_by_work.get(n, False),
            }
        )
    filtered_edges = [
        {
            "source": src,
            "target": dst,
            "relationship": EDGE_PHRASES.get((by_id[src][3], by_id[dst][3])),
        }
        for _, src, dst, *_ in got["e"]
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
    """nest_links over a (work_id, collection, subtype, url) table, in
    one bounded collect."""
    return nest_links(
        _bounded_collect(links.select("work_id", "collection", "subtype", "url"), what)
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
    # One collect: each link row of the two collections, tagged by its
    # work's side of the partition.
    w = Window.partitionBy("work_id")
    in1 = F.max(F.col("collection") == collection1).over(w)
    in2 = F.max(F.col("collection") == collection2).over(w)
    names = {"o": "overlap", "1": f"only_in_{collection1}", "2": f"only_in_{collection2}"}
    tag = F.when(in1 & in2, "o").when(in1, "1").otherwise("2")
    got = _tagged_collect(
        links.filter(F.col("collection").isin(collection1, collection2))
        .select(tag, "work_id", "collection", "subtype", "url")
        .coalesce(1),
        dict.fromkeys(names, "e-text link mapping"),
    )
    return {name: nest_links(r[1:] for r in got[t]) for t, name in names.items()}


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
        for r in _bounded_collect(
            entities.filter((F.col("type") == "work") & _in_ids(F.col("id"), ids)).select("id"),
            "work id set",
        )
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
    from panditya_spark.functions.labels import dropdown_label

    dates = _entity_dates(entities.sparkSession.sparkContext)
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
