"""``hits.total.value`` pinned against an independent ``count()`` of the
query's result frame, for every body shape the DSL serves. The response
builds its total in the same Spark action as its page, so a total that
only counted the rows reaching the page (or the collapsed or
search_after-filtered rows) would still agree between the scan and the
index-served paths — the parity tests cannot see it. Each body here
asks for a page smaller than its total."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from djangoadmin_postgresql_2_elasticseach_spark.functions.text import analyze
from djangoadmin_postgresql_2_elasticseach_spark.search.dsl import (
    _apply_query,
    search,
    search_frame_indexed,
    search_indexed,
)
from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
    build_posting_index,
)

WORDS = ["camp", "river", "stone", "night", "storm", "light", "camps", "came"]
GENRES = ["drama", "comedy", "horror"]
FIELDS = ["title", "description"]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    rows = [
        (
            f"m{i:02d}",
            f"{WORDS[i % 8]} {WORDS[(i * 3) % 8]}",
            f"a {WORDS[(i * 5) % 8]} of the {WORDS[(i + 2) % 8]}",
            GENRES[i % 3],
            1990 + (i * 7) % 23,
        )
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, title string, description string, genre string, "
        "year int",
    )
    # persisted index-time analysis (the analyzed_corpus_cached shape)
    # keeps the analyzer expression out of every scan-path plan
    for f in FIELDS:
        docs = docs.withColumn(f"{f}_tokens", analyze(F.col(f)))
    docs = docs.localCheckpoint(eager=True)
    path = str(tmp_path_factory.mktemp("dsltotal") / "posting")
    build_posting_index(
        docs, path, fields=tuple(FIELDS), id_col="doc_id",
        tokens_col={f: f"{f}_tokens" for f in FIELDS},
    )
    return docs, path


MATCH = {"match": {"title": "camp stone"}}
BODIES = {
    "multi_match": {
        "query": {"multi_match": {"query": "camp river", "fields": FIELDS}},
        "size": 3,
    },
    "multi_match_fuzzy": {
        "query": {
            "multi_match": {
                "query": "camq", "fuzziness": "AUTO", "fields": FIELDS,
            }
        },
        "size": 2,
    },
    "collapse": {"query": MATCH, "collapse": {"field": "genre"}, "size": 2},
    "search_after": {
        "query": MATCH,
        "sort": [{"year": {"order": "desc"}}],
        "search_after": [2005, "m99"],
        "size": 2,
    },
    "from": {"query": MATCH, "from": 3, "size": 2},
    "from_past_the_end": {"query": MATCH, "from": 1000, "size": 2},
    "size_0": {"query": MATCH, "size": 0},
    "aggs": {
        "query": MATCH,
        "size": 1,
        "aggs": {"by_genre": {"terms": {"field": "genre"}}},
    },
    "no_hits": {"query": {"match": {"title": "zephyr"}}, "size": 2},
}


@pytest.mark.parametrize("shape", sorted(BODIES))
def test_total_equals_frame_count(spark, corpus, shape):
    docs, path = corpus
    body = BODIES[shape]
    q = body["query"]
    want = _apply_query(docs, q, "doc_id")[0].count()
    assert search_frame_indexed(spark, docs, q, path, "doc_id")[0].count() == want
    scan = search(docs, body, id_col="doc_id")
    served = search_indexed(spark, docs, body, path, id_col="doc_id")
    assert scan["hits"]["total"]["value"] == want
    assert served["hits"]["total"]["value"] == want
    assert served["hits"]["hits"] == scan["hits"]["hits"]
    if shape != "no_hits":
        # the page is smaller than the total: a total bounded by the
        # page would show here
        assert want > len(served["hits"]["hits"])
        assert want > body["size"]


def test_fuzzy_total_counts_every_scored_candidate(spark, corpus):
    """The fuzzy multi_match scorer ends in its own sort + limit (top
    1_000_000): the total must count its every row, not the page's."""
    docs, path = corpus
    body = BODIES["multi_match_fuzzy"]
    # 'camp' and 'came' are one edit from 'camq' ('camps' stems to 'camp')
    want = sum(
        1
        for r in docs.collect()
        if {"camp", "came", "camps"}
        & set(f"{r['title']} {r['description']}".split())
    )
    resp = search_indexed(spark, docs, body, path, id_col="doc_id")
    assert resp["hits"]["total"]["value"] == want > body["size"]
    assert [h["_score"] for h in resp["hits"]["hits"]] == sorted(
        (h["_score"] for h in resp["hits"]["hits"]), reverse=True
    )


def test_page_order_survives_the_one_action_union(spark, corpus):
    """The page comes back in sort order for mixed key directions."""
    docs, _ = corpus
    body = {
        "query": {"match_all": {}},
        "sort": [{"genre": {"order": "desc"}}, {"year": {"order": "asc"}}],
        "size": 15,
    }
    resp = search(docs, body, id_col="doc_id")
    rows = sorted(
        ((r["genre"], r["year"], r["doc_id"]) for r in docs.collect()),
        key=lambda t: (t[1], t[2]),
    )
    rows.sort(key=lambda t: t[0], reverse=True)  # stable: year, id kept
    assert [tuple(h["sort"]) for h in resp["hits"]["hits"]] == rows[:15]
    assert resp["hits"]["total"]["value"] == 40
