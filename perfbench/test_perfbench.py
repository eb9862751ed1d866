"""The benchmark's own checks: seeded inputs are reproducible byte for
byte, and the correctness gates catch a corrupted response.

    python3 -m pytest perfbench/test_perfbench.py -q

No Spark session is started."""

from __future__ import annotations

import copy
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from catalog import (  # noqa: E402
    EDIT_SHAPE,
    SEARCH_CYCLE,
    SHAPE,
    Catalog,
    edit_batch,
    fresh_token,
    request_stream,
)
from workloads import api_expected, api_got, body_fields, response_mismatch  # noqa: E402


def _inputs(seed: int, ticks: int = 3, per_client: int = 24) -> bytes:
    """Every input a run of ``seed`` can hand the engine, serialized:
    the catalog, the first ``ticks`` edit batches, and the first
    requests of each client stream of every workload."""
    cat = Catalog(seed)
    parts = [cat.digest()]
    for workload, clients in (("catalog_search", 2), ("catalog_fuzzy", 1)):
        for c in range(clients):
            stream = request_stream(cat, workload, c, clients)
            parts.append(json.dumps([next(stream) for _ in range(per_client)]))
    for t in range(ticks):
        parts.append(edit_batch(cat, t).as_json())
        parts.append(cat.digest())
    return "\n".join(parts).encode()


def test_same_seed_gives_byte_identical_inputs():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)


def test_catalog_shape():
    cat = Catalog(3)
    sizes = cat.sizes()
    assert sizes["film_work"] == SHAPE["films"]
    assert sizes["person"] == SHAPE["persons"]
    assert sizes["genre"] == SHAPE["genres"]
    # links per film near the configured means
    assert 1.5 <= sizes["genre_film_work"] / sizes["film_work"] <= 2.5
    assert 4.0 <= sizes["person_film_work"] / sizes["film_work"] <= 6.0
    cyr = [w for w in cat.vocab if "а" <= w[0] <= "я"]
    assert 0.1 <= len(cyr) / len(cat.vocab) <= 0.2


def test_edit_batch_applies_to_catalog():
    cat = Catalog(5)
    before = dict(cat.film_work)
    b = edit_batch(cat, 0)
    for fid, title in b.edited_titles.items():
        assert cat.film_work[fid][1] == title
        assert title.split()[-1].startswith("qx")
    for fid in b.film_deletes:
        assert fid in before and fid not in cat.film_work
        assert all(r[2] != fid for r in cat.genre_film_work.values())
        assert all(r[1] != fid for r in cat.person_film_work.values())
    # fresh tokens never collide with the vocabulary or each other
    toks = {fresh_token(t, i) for t in range(50) for i in range(20)}
    assert len(toks) == 1000 and not toks & set(cat.vocab)


def test_popular_rename_fans_out_alike_across_seeds():
    want = EDIT_SHAPE["popular_fanouts"][0]
    for seed in (1, 2, 3):
        cat = Catalog(seed)
        pid = edit_batch(cat, 0).person_upserts[0][0]
        films = {r[1] for r in cat.person_film_work.values() if r[2] == pid}
        assert abs(len(films) - want) <= 5


def test_search_stream_follows_the_cycle():
    cat = Catalog(9)
    stream = request_stream(cat, "catalog_search", 0, 1)
    kinds = [next(stream)["kind"] for _ in range(len(SEARCH_CYCLE))]
    want = ["es" if k in ("match", "bool", "phrase") else k for k in SEARCH_CYCLE]
    assert kinds == want


def _resp(ids, total):
    return {"hits": {"total": {"value": total},
                     "hits": [{"_id": i, "_source": {}} for i in ids]}}


def test_corrupted_es_response_is_caught():
    good = _resp(["a", "b", "c"], 7)
    assert response_mismatch(good, copy.deepcopy(good)) is None
    assert response_mismatch(_resp(["b", "a", "c"], 7), good)  # order
    assert response_mismatch(_resp(["a", "b"], 7), good)  # a hit lost
    assert response_mismatch(_resp(["a", "b", "x"], 7), good)  # wrong hit
    assert response_mismatch(_resp(["a", "b", "c"], 8), good)  # total


def test_corrupted_api_response_is_caught():
    films = {f"id-{i}": (f"id-{i}", f"title {i % 7}") for i in range(120)}
    req = {"kind": "list", "page": 2}
    count, ids = api_expected(req, films)
    page = {"count": count, "results": [{"id": i} for i in ids]}
    assert api_got(req, page) == api_expected(req, films)
    page["results"][0], page["results"][1] = page["results"][1], page["results"][0]
    assert api_got(req, page) != api_expected(req, films)
    det = {"kind": "detail", "fragment": "D-11"}
    assert api_expected(det, films) == ("id-11", "title 4")
    assert api_got(det, {"id": "id-11", "title": "title 5"}) != api_expected(det, films)


def test_body_fields():
    body = {"query": {"bool": {
        "must": [{"match": {"description": "x"}}],
        "must_not": [{"match": {"title": "y"}}],
        "filter": [{"range": {"imdb_rating": {"gte": 3}}}],
    }}}
    assert body_fields(body) == {"description", "title"}
    assert body_fields({"query": {"multi_match": {
        "query": "x", "fields": ["title", "description"]}}}) == {"title", "description"}
