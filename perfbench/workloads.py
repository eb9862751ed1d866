"""The benchmark's workloads and correctness gates, driving the engine
through its public entry points only:

- ``sources.txlog`` (``tx_overwrite``/``tx_merge``/``tx_read``) holds the
  five movies source tables;
- ``streaming.cdc.TxlogCdcEtl`` feeds ``search.index.posting_index_cdc_sink``;
- ``search.dsl.search_indexed`` and ``search.index.fetch_docs`` serve ES
  bodies and GET-by-id;
- ``operators.api.film_listing``/``paginate``/``film_detail`` serve the
  REST list and detail pages.

Every timed call is wrapped in a tracer span; the gates run outside the
timed regions and every failure they find counts as a failed operation.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.util import inheritable_thread_target

from djangoadmin_postgresql_2_elasticseach_spark import schemas
from djangoadmin_postgresql_2_elasticseach_spark.operators.api import (
    film_detail,
    film_listing,
    paginate,
)
from djangoadmin_postgresql_2_elasticseach_spark.search.dsl import (
    search,
    search_indexed,
)
from djangoadmin_postgresql_2_elasticseach_spark.search.index import (
    fetch_docs,
    posting_index_cdc_sink,
    read_docstore,
)
from djangoadmin_postgresql_2_elasticseach_spark.search.query import field_tokens
from djangoadmin_postgresql_2_elasticseach_spark.sources.state import JsonFileState
from djangoadmin_postgresql_2_elasticseach_spark.sources.txlog import (
    TxLog,
    tx_merge,
    tx_overwrite,
    tx_read,
)
from djangoadmin_postgresql_2_elasticseach_spark.streaming.cdc import TxlogCdcEtl

from catalog import (
    SEARCH_CYCLE,
    Catalog,
    edit_batch,
    fresh_token,
    fuzzy_request,
    request_stream,
    rng_for,
)

_ARROW = {
    "StringType": pa.string(),
    "DateType": pa.date32(),
    "DoubleType": pa.float64(),
    "TimestampType": pa.timestamp("us"),
}
INDEX_FIELDS = ("title", "description")
STORE_COLS = ("title", "description", "imdb_rating")
# served ES responses of a kind re-checked against the scan interpreter
GATE_SAMPLE = 2
# catalog_cdc's edit ticks per run: fixed, so every run's medians are
# over the same operations whatever ``--seconds`` and the code's speed
EDIT_TICKS = 2
PAGE_SIZE = 50


def _err(e: BaseException) -> str:
    return f"{type(e).__name__}: {str(e)[:400]}"


def hit_ids(resp: dict) -> tuple[list[str], int]:
    return [h["_id"] for h in resp["hits"]["hits"]], resp["hits"]["total"]["value"]


def response_mismatch(indexed: dict, scan: dict) -> str | None:
    """Why an index-served response differs from the scan interpreter's
    (hit ids, their order, or ``total``), or None when they agree."""
    (ia, ta), (sa, ts) = hit_ids(indexed), hit_ids(scan)
    if ta != ts:
        return f"total {ta} != scan {ts}"
    if ia != sa:
        return f"hits {ia} != scan {sa}"
    return None


def body_fields(node) -> set[str]:
    """The text fields an ES body's full-text clauses query."""
    out: set[str] = set()
    if isinstance(node, list):
        for x in node:
            out |= body_fields(x)
    elif isinstance(node, dict):
        for k, v in node.items():
            if k in ("match", "match_phrase"):
                out.update(v)
            elif k == "multi_match":
                out.update(v["fields"])
            else:
                out |= body_fields(v)
    return out


def api_expected(req: dict, films: dict) -> tuple:
    """What a REST request must return over the catalog state ``films``
    (film id -> film_work row): a list page as (count, ids on the page),
    a detail as (id, title) of the first id containing the fragment."""
    if req["kind"] == "list":
        order = sorted(films.values(), key=lambda r: (r[1], r[0]))
        pages = max(1, -(-len(order) // PAGE_SIZE))
        lo = (max(1, min(req["page"], pages)) - 1) * PAGE_SIZE
        return len(order), [r[0] for r in order[lo:lo + PAGE_SIZE]]
    frag = req["fragment"].lower()
    hits = sorted(i for i in films if frag in i.lower())
    return (hits[0], films[hits[0]][1]) if hits else None


def api_got(req: dict, out) -> tuple | None:
    if req["kind"] == "list":
        return out["count"], [r["id"] for r in out["results"]]
    return out and (out["id"], out["title"])


class Bench:
    """One run's state: the generated catalog, its txlog tables, the
    CDC ETL and the posting index, all under a fresh ``root``."""

    def __init__(self, spark, root: str, seed: int, tracer):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.tr = tracer
        self.ops: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.ticks: list[dict] = []
        self.requests: list[dict] = []
        self._frames = 0
        self._lock = threading.Lock()

    # -- bookkeeping -----------------------------------------------------

    def record(self, kind: str, seconds: float | None, error: str | None = None):
        with self._lock:
            self.attempted += 1
            if error is not None:
                self.failed += 1
                self.failures.append(f"{kind}: {error}")
            elif seconds is not None:
                self.ops.setdefault(kind, []).append(seconds)

    def fail(self, what: str, error: str):
        """A failed check of an operation already counted as attempted."""
        with self._lock:
            self.failed += 1
            self.failures.append(f"{what}: {error}")

    # -- setup -----------------------------------------------------------

    def setup(self) -> None:
        """Generate the catalog, load it into the five txlog tables and
        backfill the index with the cold-start CDC tick."""
        self.cat = Catalog(self.seed)
        self.paths = {}
        for t in Catalog.TABLES:
            self.paths[t] = os.path.join(self.root, "tx", t)
            os.makedirs(self.paths[t])
        self.idx = os.path.join(self.root, "movies_idx")
        with self.tr.root("load", "commit"):
            with self.tr.span("txlog.commit"):
                self.commit_all([
                    (tx_overwrite, self.frame(t, self.cat.rows(t)), self.paths[t])
                    for t in Catalog.TABLES
                ])
        sink, on_delete = posting_index_cdc_sink(
            {"movies": self.idx},
            fields=INDEX_FIELDS,
            id_col="id",
            store_cols=STORE_COLS,
        )

        # the sink indexes the movies entity and ignores the others;
        # the span name keeps the entity so the two are told apart
        def traced_sink(docs, entity):
            with self.tr.span(f"index.upsert.{entity}"):
                sink(docs, entity)

        def traced_delete(ids, entity):
            with self.tr.span(f"index.delete.{entity}"):
                on_delete(ids, entity)

        self.etl = TxlogCdcEtl(
            self.spark,
            JsonFileState(os.path.join(self.root, "cdc_state.json")),
            self.paths,
            traced_sink,
            on_delete=traced_delete,
        )
        self.run_tick("backfill", source_rows=sum(self.cat.sizes().values()))

    def frame(self, table: str, rows: list[tuple]):
        """``rows`` of ``table`` as a DataFrame over one parquet file
        written by pyarrow: the generated input handed to the engine."""
        schema = schemas.MOVIES_TABLES[table]
        cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
        self._frames += 1
        path = os.path.join(self.root, "gen", f"{table}-{self._frames}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table({
                f.name: pa.array(c, _ARROW[type(f.dataType).__name__])
                for f, c in zip(schema.fields, cols)
            }),
            path,
        )
        return self.spark.read.schema(schema).parquet(path)

    # -- write path ------------------------------------------------------

    def commit_all(self, commits) -> None:
        """Run one txlog commit per table concurrently, each given as
        (fn, *args), as a loader with one connection per table would.
        The threads inherit the caller's Spark job group."""
        with ThreadPoolExecutor(max_workers=len(commits)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(fn), *args)
                for fn, *args in commits
            ]
            for f in futures:
                f.result()

    def apply_edits(self, tick: int):
        """Commit tick ``tick``'s seeded edit batch to the txlog tables."""
        sp, b = self.spark, edit_batch(self.cat, tick)
        fw = self.paths["film_work"]
        commits = [
            # a delete is a snapshot without the rows (the txlog has no
            # keyed delete); edits and inserts ride along with it
            (tx_overwrite, self.frame("film_work", self.cat.rows("film_work")), fw)
            if b.film_deletes
            else (tx_merge, sp, fw, self.frame("film_work", b.film_upserts), "id"),
            (tx_merge, sp, self.paths["person"],
             self.frame("person", b.person_upserts), "id"),
        ] + [
            (tx_overwrite, self.frame(t, self.cat.rows(t)), self.paths[t])
            for t in sorted(b.bridges_changed)
        ]
        with self.tr.root(f"commit-{tick}", "commit") as rec:
            with self.tr.span("txlog.commit"):
                self.commit_all(commits)
        return b, rec["wall_s"]

    def run_tick(self, name: str, source_rows: int) -> dict:
        with self.tr.root(name, "tick") as rec:
            with self.tr.span("cdc.run_tick"):
                res = self.etl.run_tick()
        info = {
            "name": name,
            "tick_s": rec["wall_s"],
            "docs": res["movies"]["docs"],
            "source_rows": source_rows,
        }
        self.ticks.append(info)
        return info

    def cdc_tick(self, tick: int) -> None:
        """One catalog_cdc tick: commit the edit batch, run the CDC tick,
        then probe once: a ``match`` on an edited title's new token must
        return it, and ``fetch_docs`` over the edited and deleted ids
        must show every new title and no deleted film. The time from the
        commit to the probe's end is one freshness sample."""
        batch, commit_s = self.apply_edits(tick)
        committed = time.perf_counter()
        self.record("commit", commit_s)
        try:
            info = self.run_tick(f"tick-{tick}", batch.source_rows)
        except Exception as e:  # noqa: BLE001 - a failed tick is a result
            self.record("tick", None, _err(e))
            return
        self.record("tick", info["tick_s"])
        edited = list(batch.edited_titles)
        fid = rng_for(self.seed, "probe", tick).choice(edited)
        body = {
            "query": {"match": {"title": fresh_token(tick, edited.index(fid))}},
            "size": 10,
        }
        resp = self.es(body, "probe_search")
        ids = sorted(batch.edited_titles) + batch.film_deletes
        fetched = self.get(ids, "probe_get")
        if resp is not None and fid in hit_ids(resp)[0] and fetched:
            self.record("freshness", time.perf_counter() - committed)
        else:
            self.record("freshness", None, f"tick {tick}: {fid} not served")

    # -- read path -------------------------------------------------------

    def es(self, body: dict, kind: str) -> dict | None:
        """One ES body through ``search_indexed`` over the docstore."""
        with self.tr.root(kind, kind) as rec:
            try:
                with self.tr.span("search.dsl"):
                    resp = search_indexed(
                        self.spark,
                        read_docstore(self.spark, self.idx),
                        body,
                        self.idx,
                        id_col="doc_id",
                    )
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                resp, err = None, _err(e)
            else:
                err = None
        self.record(kind, rec["wall_s"], err)
        with self._lock:  # for the scan gate and the layer report
            self.requests.append(
                {"kind": kind, "rec": rec, "body": body, "resp": resp}
            )
        return resp

    def get(self, ids: list[str], kind: str = "get") -> bool:
        """GET-by-id through ``fetch_docs``; the titles must match the
        catalog's (and ids the catalog no longer has must be absent).
        True when the fetch was served and matched."""
        with self.tr.root(kind, kind) as rec:
            try:
                with self.tr.span("index.fetch_docs"):
                    rows = [
                        r.asDict()
                        for r in fetch_docs(self.spark, self.idx, ids).collect()
                    ]
            except Exception as e:  # noqa: BLE001
                rows, err = None, _err(e)
            else:
                err = None
        self.record(kind, rec["wall_s"], err)
        if rows is None:
            return False
        films = self.cat.film_work
        if {r["doc_id"]: r["title"] for r in rows} != {
            i: films[i][1] for i in ids if i in films
        }:
            self.fail(kind, f"fetch_docs({ids}) != catalog")
            return False
        return True

    def api(self, req: dict) -> None:
        """A REST list page or detail, answered from the txlog tables'
        latest snapshots and checked against the catalog."""
        kind = req["kind"]
        with self.tr.root(kind, "api") as rec:
            try:
                with self.tr.span(f"api.{kind}"):
                    listing = film_listing(*[
                        tx_read(self.spark, self.paths[t]) for t in Catalog.TABLES
                    ])
                    if kind == "list":
                        out = paginate(listing, req["page"], PAGE_SIZE)
                    else:
                        out = film_detail(listing, req["fragment"])
            except Exception as e:  # noqa: BLE001
                out, err = None, _err(e)
            else:
                err = None
        self.record("api", rec["wall_s"], err)
        if err is None and api_got(req, out) != api_expected(req, self.cat.film_work):
            self.fail(kind, f"{req} != catalog")

    def serve(self, workload: str, clients: int, stop) -> float:
        """Closed loop: ``clients`` threads each issue their seeded
        stream's next request when the previous one completes. A client
        stops only after a whole rotation of the request kinds, the
        first at whose end ``stop()`` is true, so every run serves the
        same mix however fast the code is. Returns the wall time served."""
        errors: list[BaseException] = []
        rotation = len(SEARCH_CYCLE) if workload == "catalog_search" else 1

        def client(i: int):
            try:
                stream = request_stream(self.cat, workload, i, clients)
                for n, req in enumerate(stream):
                    if n % rotation == 0 and stop():
                        return
                    if req["kind"] == "es":
                        kind = "fuzzy" if workload == "catalog_fuzzy" else "search"
                        self.es(req["body"], kind)
                    elif req["kind"] == "get":
                        self.get(req["ids"])
                    else:
                        self.api(req)
            except BaseException as e:  # noqa: BLE001 - raised after join
                errors.append(e)

        t0 = time.perf_counter()
        threads = [
            threading.Thread(target=client, args=(i,), daemon=True)
            for i in range(clients)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return time.perf_counter() - t0

    # -- gates -------------------------------------------------------------

    def sample_served(self, kind: str) -> list[dict]:
        """A seeded sample of ``GATE_SAMPLE`` served ES requests of ``kind``."""
        served = [r for r in self.requests if r["kind"] == kind and r["resp"]]
        return rng_for(self.seed, "gate", kind).sample(
            served, min(GATE_SAMPLE, len(served))
        )

    def gate_scan(self, picked: list[dict]) -> None:
        """Re-run the served ES requests ``picked`` through the scan
        interpreter ``search.dsl.search`` over the docstore as it is now,
        which must be the snapshot that served them; hit ids, their order
        and ``total`` must agree. The token arrays of the fields the
        bodies query are analyzed once (cached), so a body costs one
        scan, not a re-analysis."""
        picked = [r for r in picked if r["resp"]]
        if not picked:
            return
        used = set(INDEX_FIELDS) & set().union(
            *[body_fields(r["body"]) for r in picked]
        )
        with self.tr.root("gate-scan", "gate"):
            docs = read_docstore(self.spark, self.idx)
            for f in sorted(used):
                docs = docs.withColumn(f"{f}_tokens", field_tokens(docs, f))
            docs = docs.cache()
            try:
                with self.tr.span("gate.analyze"):
                    docs.count()
                for r in picked:
                    with self.tr.span("gate.scan"):
                        scan = search(docs, r["body"], id_col="doc_id")
                    why = response_mismatch(r["resp"], scan)
                    if why:
                        self.fail(f"{r['kind']} {r['body']}", why)
            finally:
                docs.unpersist()

    def gate_live_docs(self) -> None:
        """Live documents in the index == film_work rows in the txlog's
        latest snapshot == films in the generated catalog."""
        with self.tr.root("gate-live", "gate"):
            live = read_docstore(self.spark, self.idx, columns=()).count()
            rows = tx_read(
                self.spark,
                self.paths["film_work"],
                TxLog(self.paths["film_work"]).latest_version(),
            ).count()
        self.record("live-docs", None)
        if not live == rows == len(self.cat.film_work):
            self.fail(
                "live-docs",
                f"index {live} / txlog {rows} / catalog {len(self.cat.film_work)}",
            )
        self.live_docs = live


# ---------------------------------------------------------------------------
# workloads: each drives the bench and returns the wall time it measured
# ---------------------------------------------------------------------------


def catalog_search(bench: Bench, seconds: float) -> float:
    """2 read clients, each serving whole rotations of the request kinds
    until ``seconds`` have passed. A traced run then sends one seeded
    fuzzy ``multi_match`` body, outside the measured window, so the
    fuzzy layer's metrics come from a workload of BENCHMARK.json (one
    such request costs ~20 s, too much for every run). Then the scan
    gate over a sample of the ES bodies, the fuzzy one included."""
    deadline = time.perf_counter() + seconds
    measured = bench.serve(
        "catalog_search", 2, lambda: time.perf_counter() >= deadline
    )
    if bench.tr.enabled:
        rng = rng_for(bench.seed, "catalog_search", "fuzzy")
        bench.es(fuzzy_request(bench.cat, rng)["body"], "fuzzy")
    bench.gate_scan(bench.sample_served("search") + bench.sample_served("fuzzy"))
    return measured


def catalog_fuzzy(bench: Bench, seconds: float) -> float:
    """1 client sending the fuzzy multi_match body; then the scan gate."""
    deadline = time.perf_counter() + seconds
    measured = bench.serve(
        "catalog_fuzzy", 1, lambda: time.perf_counter() >= deadline
    )
    bench.gate_scan(bench.sample_served("fuzzy"))
    return measured


def catalog_cdc(bench: Bench, seconds: float) -> float:
    """1 writer: ``EDIT_TICKS`` edit-batch ticks, however long they take
    (``seconds`` is not used); then the scan gate over the probes served
    after the last tick, as the docstore has not changed since."""
    t0 = time.perf_counter()
    for tick in range(EDIT_TICKS):
        first = len(bench.requests)
        bench.cdc_tick(tick)
    measured = time.perf_counter() - t0
    bench.gate_scan(bench.requests[first:])
    return measured


WORKLOADS = {
    "catalog_search": catalog_search,
    "catalog_fuzzy": catalog_fuzzy,
    "catalog_cdc": catalog_cdc,
}
