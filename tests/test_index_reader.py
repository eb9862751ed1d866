"""Reader snapshots (search/index.IndexReader): a posting index's parquet
relations are opened once per visible state and reused until the meta
sidecar says that state changed. Pinned here: every kind of change a
served index goes through — a CDC upsert, a delete, a tiered
compaction, a full compaction, a generation swap on the no-rename
backend — is seen by the next read, which never trips over files the
change replaced; an in-flight first tombstone write is invisible; and
concurrent readers share one snapshot."""

from __future__ import annotations

import os
import threading

import pytest

import djangoadmin_postgresql_2_elasticseach_spark.metastore as MS
from djangoadmin_postgresql_2_elasticseach_spark.search import index as IX
from djangoadmin_postgresql_2_elasticseach_spark.search.dsl import search_indexed
from tests.conftest import POSIX_METASTORE

SCHEMA = "id string, title string"
TOKEN = "zephyr"  # a title word no generated title contains


@pytest.fixture()
def norename():
    prev = MS.set_metastore(MS.NoRenameMetastore())
    yield MS.get_metastore()
    MS.set_metastore(prev)


def _titles(n: int, start: int = 0) -> dict[str, str]:
    words = ["camp", "river", "stone", "night", "storm", "light"]
    return {
        f"f{i:03d}": f"{words[i % 6]} {words[(i // 6) % 6]} tale {i}"
        for i in range(start, start + n)
    }


class Served:
    """An index fed through the CDC sink pair, and the docs it must
    serve (id -> title)."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        self.want: dict[str, str] = {}
        self.sink, self.on_delete = IX.posting_index_cdc_sink(
            path, fields=("title",), id_col="id", store_cols=("title",),
            compact_every=0,
        )

    def upsert(self, rows: dict[str, str]) -> None:
        self.sink(
            self.spark.createDataFrame(sorted(rows.items()), SCHEMA), "movies"
        )
        self.want.update(rows)

    def delete(self, ids: list[str]) -> None:
        self.on_delete(
            self.spark.createDataFrame([(i,) for i in ids], "id string"),
            "movies",
        )
        for i in ids:
            self.want.pop(i)

    def check(self) -> None:
        """Every read path serves exactly ``want``."""
        sp, p = self.spark, self.path
        docs = IX.read_docstore(sp, p)
        assert {r["doc_id"]: r["title"] for r in docs.collect()} == self.want
        ids = sorted(self.want)[:3] + ["f999"]
        assert {
            r["doc_id"]: r["title"] for r in IX.fetch_docs(sp, p, ids).collect()
        } == {i: self.want[i] for i in ids if i in self.want}
        hits = {
            i for i, t in self.want.items() if TOKEN in t.split()
        }
        resp = search_indexed(
            sp, docs, {"query": {"match": {"title": TOKEN}}, "size": 100},
            p, id_col="doc_id",
        )
        assert {h["_id"] for h in resp["hits"]["hits"]} == hits
        assert resp["hits"]["total"]["value"] == len(hits)
        live_tokens = {
            r["doc_id"]
            for r in IX.read_postings(sp, p)
            .filter("token = 'tale'")
            .collect()
        }
        assert live_tokens == set(self.want)


def _replaced(before: IX.IndexReader, path: str, spark) -> bool:
    return IX.index_reader(spark, path) is not before


def test_each_change_is_served_without_stale_files(spark, tmp_path):
    idx = Served(spark, str(tmp_path / "idx"))
    idx.upsert(_titles(20))
    idx.check()
    # an unchanged state is served from one snapshot and its relations
    r = IX.index_reader(spark, idx.path)
    assert IX.index_reader(spark, idx.path) is r
    assert IX.read_postings(spark, idx.path) is r.live_relation(
        "postings", IX.POSTINGS_SCHEMA
    )

    # CDC upsert: edits and inserts
    idx.upsert({"f002": f"{TOKEN} camp tale 2", "f020": f"new {TOKEN} tale 20"})
    idx.check()
    assert _replaced(r, idx.path, spark)

    # delete
    r = IX.index_reader(spark, idx.path)
    idx.delete(["f003", "f020"])
    idx.check()
    assert _replaced(r, idx.path, spark)

    # tiered compaction: every leaf the ticks wrote twice holds more
    # than max_files files and is swapped in place while a snapshot of
    # the pre-pass state is open
    idx.upsert({"f001": f"storm {TOKEN} tale 1"})
    idx.check()
    r = IX.index_reader(spark, idx.path)
    IX.compact_posting_index_tiered(spark, idx.path, max_files=1)
    idx.check()
    assert _replaced(r, idx.path, spark)
    if POSIX_METASTORE:
        # the rename-based pass moves no watermark: only the epoch
        # tells readers (the no-rename backend runs a generation
        # rewrite instead, pinned below)
        meta = IX.read_posting_meta(idx.path)
        assert meta["committed_seq"] == r.meta["committed_seq"]
        assert meta["maint_epoch"] > (r.meta.get("maint_epoch") or 0)

    # full compaction: tombstones applied physically, files rewritten
    r = IX.index_reader(spark, idx.path)
    IX.compact_posting_index(spark, idx.path)
    idx.check()
    assert _replaced(r, idx.path, spark)


def test_norename_generation_swap_is_served(spark, tmp_path, norename):
    idx = Served(spark, str(tmp_path / "idx"))
    idx.upsert(_titles(10))
    idx.upsert({"f004": f"{TOKEN} stone tale 4"})
    idx.delete(["f005"])
    idx.check()
    r = IX.index_reader(spark, idx.path)
    gen = IX.read_posting_meta(idx.path).get("generation") or 0
    IX.compact_posting_index(spark, idx.path)
    assert IX.read_posting_meta(idx.path)["generation"] == gen + 1
    # the snapshot's generation was reclaimed by the swap
    assert not os.path.isdir(IX._art(idx.path, "postings", r.meta))
    idx.check()
    assert _replaced(r, idx.path, spark)
    # a tick after the swap lands in the new generation
    idx.upsert({"f006": f"{TOKEN} night tale 6"})
    idx.check()


def test_rebuild_at_the_same_path_is_a_new_index(spark, tmp_path):
    """A rebuild restarts the seq counter, so its watermarks can equal
    the previous index's — the sidecar's index_uuid keeps the two
    states apart."""
    path = str(tmp_path / "idx")
    first = _titles(6)
    second = {k: f"{TOKEN} {v}" for k, v in _titles(4, start=50).items()}
    for rows in (first, second):
        IX.build_posting_index(
            spark.createDataFrame(sorted(rows.items()), SCHEMA), path,
            fields=("title",), id_col="id", store_cols=("title",),
        )
        got = {
            r["doc_id"]: r["title"]
            for r in IX.read_docstore(spark, path).collect()
        }
        assert got == rows


def test_inflight_first_tombstone_write_is_invisible(spark, tmp_path):
    """A tick's first tombstone write creates ``_tombstones/`` holding
    only its ``_temporary/`` staging until the job commits. A read in
    that window serves exactly what it serves without the directory."""
    idx = Served(spark, str(tmp_path / "idx"))
    idx.upsert(_titles(8))
    assert not os.path.exists(os.path.join(idx.path, "_tombstones"))
    # no read has opened a snapshot of this index yet
    spark.createDataFrame([("f001", 99)], "doc_id string, seq long").write.parquet(
        os.path.join(idx.path, "_tombstones", "_temporary", "0", "task_0")
    )
    idx.check()
    stats = {
        r["field"]: r["n_docs"] for r in IX.index_stats(spark, idx.path).collect()
    }
    assert stats == {"title": 8}


def test_concurrent_readers_share_one_snapshot(spark, tmp_path):
    idx = Served(spark, str(tmp_path / "idx"))
    idx.upsert(_titles(10))
    readers, errors = [], []

    def client():
        try:
            readers.append(IX.index_reader(spark, idx.path))
            idx.check()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    threads = [threading.Thread(target=client) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len({id(r) for r in readers}) == 1
