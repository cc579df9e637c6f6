"""The ETL over a generated catalog reproduces the generator's ground
truth: the same edge table, the same entity ids, types and names, and
the same e-text link table.

Run from the repository root:  python -m pytest perfbench/test_catalog.py
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import catalog  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from panditya_spark.session import get_spark

    s = get_spark("perfbench-catalog-test")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module", params=[7, 11])
def generated(request, tmp_path_factory):
    out = tmp_path_factory.mktemp(f"catalog{request.param}")
    return catalog.write_catalog(str(out), request.param)


def test_generator_is_seeded(tmp_path):
    a = catalog.write_catalog(str(tmp_path / "a"), 3)
    b = catalog.write_catalog(str(tmp_path / "b"), 3)
    for name in ("entities.csv", "seti.csv"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    assert a.edges == b.edges and a.links == b.links


def test_census_has_reference_shape(generated):
    c = catalog.census(generated)
    assert 18_000 <= c["csv_rows"] <= 20_000
    assert 16_000 <= c["nodes"] <= 18_000
    assert 8_500 <= c["largest_component"] <= 9_500
    assert 3_000 <= c["isolated"] <= 3_400
    assert c["components_2_4"] >= 500
    assert 1_700 <= c["seti_rows"] <= 1_900
    assert {lk[1] for lk in generated.links} == set(catalog.SETI_SUBTYPES)


def test_etl_matches_ground_truth(spark, generated):
    from panditya_spark.etl import (
        edges_from_entities,
        entities_from_csv,
        etext_links_from_csv,
    )

    entities = entities_from_csv(spark, generated.entities_csv).cache()
    got_entities = {
        r.id: (r.type, r.name) for r in entities.select("id", "type", "name").collect()
    }
    assert got_entities == generated.entities

    got_edges = {
        tuple(r) for r in edges_from_entities(entities)
        .select("src", "dst", "relationship").collect()
    }
    assert got_edges == generated.edges

    links, _ = etext_links_from_csv(spark, generated.seti_csv)
    got_links = {
        tuple(r) for r in links.select("work_id", "collection", "subtype", "url").collect()
    }
    assert got_links == generated.links
    entities.unpersist()
