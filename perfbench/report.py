"""Turn one run's raw figures, operations and spans into the metrics the
benchmark prints: the full end-to-end report, the contract subset of it
named in ``BENCHMARK.json``, and the per-layer metrics of a traced run."""

from __future__ import annotations

import json
import os
import statistics

from djangoadmin_postgresql_2_elasticseach_spark.sources.txlog import TxLog

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                              "BENCHMARK.json")

UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "search_p50_ms": "ms",
    "search_p90_ms": "ms",
    "get_p50_ms": "ms",
    "api_p50_ms": "ms",
    "serve_qps": "1/s",
    "fuzzy_p50_ms": "ms",
    "tick_p50_s": "s",
    "freshness_p50_s": "s",
    "cdc_docs_per_s": "1/s",
    "index_bytes_per_doc": "B",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
}


def _med(xs):
    return statistics.median(xs) if xs else None


def _p(xs, q):
    """The q-quantile, reported only when at least ten samples lie
    beyond it (the highest percentile the sample supports)."""
    if not xs or len(xs) * (1 - q) < 10:
        return None
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def index_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path)
        for f in fs
    )


def _parquet_files(path: str, under: str | None = None) -> int:
    n = 0
    for r, _d, fs in os.walk(path):
        if under is None or under in r.split(os.sep):
            n += sum(1 for f in fs if f.endswith(".parquet"))
    return n


def end_to_end(workload: str, bench, fig: dict) -> dict:
    """Every end-to-end figure the run measured, by name, with its unit
    and, for medians, the sample count.

    ``latency_p50_ms`` and ``throughput_per_s`` are the workload's own
    operation: a read request of any kind served in the measured window
    and requests per second on catalog_search and catalog_fuzzy; on
    catalog_cdc, freshness (from an edit batch's commit until its rows
    are searchable and fetchable) and documents re-indexed per second of
    CDC tick time. The tick figures leave out the backfill, which is
    part of set-up."""
    ops = bench.ops
    edits = [t for t in bench.ticks if t["name"] != "backfill"]
    tick_s = [t["tick_s"] for t in edits]
    kinds = ("fuzzy",) if workload == "catalog_fuzzy" else ("search", "get", "api")
    reads = [x for k in kinds for x in ops.get(k, [])]
    docs_per_s = sum(t["docs"] for t in edits) / sum(tick_s) if edits else None
    serve_qps = len(reads) / fig["measured_s"]
    if workload == "catalog_cdc":
        latency, throughput = ops.get("freshness"), docs_per_s
    else:
        latency, throughput = reads, serve_qps
    vals = {
        "setup_s": (fig["setup_s"], None),
        "latency_p50_ms": (_ms(_med(latency)), latency),
        "throughput_per_s": (throughput, None),
        "search_p50_ms": (_ms(_med(ops.get("search"))), ops.get("search")),
        "search_p90_ms": (_ms(_p(ops.get("search"), 0.9)), ops.get("search")),
        "get_p50_ms": (_ms(_med(ops.get("get"))), ops.get("get")),
        "api_p50_ms": (_ms(_med(ops.get("api"))), ops.get("api")),
        "serve_qps": (serve_qps if reads else None, None),
        "fuzzy_p50_ms": (_ms(_med(ops.get("fuzzy"))), ops.get("fuzzy")),
        "tick_p50_s": (_med(tick_s), tick_s),
        "freshness_p50_s": (_med(ops.get("freshness")), ops.get("freshness")),
        "cdc_docs_per_s": (docs_per_s, None),
        "index_bytes_per_doc": (fig["index_bytes"] / max(1, bench.live_docs), None),
        "error_rate": (bench.failed / max(1, bench.attempted), None),
        "peak_rss_mb": (fig["peak_rss_mb"], None),
    }
    out = {}
    for k, (v, samples) in vals.items():
        if v is None:
            continue
        out[k] = {"value": v, "unit": UNITS[k]}
        if samples is not None:
            out[k]["n"] = len(samples)
    return out


def _ms(s):
    return None if s is None else s * 1000.0


def contract_metrics(full: dict) -> dict:
    """The end-to-end metrics named in BENCHMARK.json, as measured."""
    with open(BENCHMARK_JSON) as f:
        names = [m["name"] for m in json.load(f)["end_to_end"]]
    return {
        k: {"value": full[k]["value"], "unit": full[k]["unit"]}
        for k in names
        if k in full
    }


def per_layer(workload: str, bench, tracer, fig: dict) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run, and the self time per span
    name. Timings are medians over the workload's own operations: the
    measured ticks (the backfill where a workload has no other) and the
    read requests (the freshness probes on catalog_cdc; the one fuzzy
    body a traced catalog_search sends). A layer the workload never
    calls reads 0."""
    spans = tracer.spans
    roots = [s for s in spans if s["parent"] is None]
    in_trace: dict[int, list] = {}
    for s in spans:
        in_trace.setdefault(s["trace"], []).append(s)

    def dur(s):
        return s["end"] - s["start"]

    def inside(root, name):
        return sum(dur(s) for s in in_trace[root["trace"]] if s["name"] == name)

    def med(xs):
        return _med(xs) or 0.0

    def of_kind(*kinds):
        for k in kinds:
            got = [s for s in roots if s.get("kind") == k]
            if got:
                return got
        return []

    def counter(rs, key, scale=1.0):
        return med([r["spark"][key] * scale for r in rs])

    ticks = [t for t in bench.ticks if t["name"] != "backfill"] or bench.ticks
    names = {t["name"] for t in ticks}
    tick_roots = [r for r in roots if r["name"] in names]
    index_s = [
        sum(dur(s) for s in in_trace[r["trace"]]
            if s["name"].startswith(("index.upsert.", "index.delete.")))
        for r in tick_roots
    ]
    commits = [
        r for r in of_kind("commit") if r["name"] != "load"
    ] or of_kind("commit")
    searches = of_kind("search", "probe_search")
    gets = of_kind("get", "probe_get")
    apis = of_kind("api")
    fuzzies = of_kind("fuzzy")
    hits = {
        r["rec"]["trace"]: r["resp"]["hits"]["total"]["value"]
        for r in bench.requests
        if r.get("resp") is not None
    }
    fuzzy_hits = [hits.get(r["trace"], 0) for r in fuzzies]
    m = {
        "txlog.commit_s": med([inside(r, "txlog.commit") for r in commits]),
        "txlog.data_files": sum(
            len(TxLog(p).snapshot()) for p in bench.paths.values()
        ),
        "cdc.build_s": med([
            inside(r, "cdc.run_tick") - x for r, x in zip(tick_roots, index_s)
        ]),
        "cdc.docs_per_tick": med([t["docs"] for t in ticks]),
        "cdc.fanout": sum(t["docs"] for t in ticks)
        / max(1, sum(t["source_rows"] for t in ticks)),
        "index.upsert_s": med([inside(r, "index.upsert.movies") for r in tick_roots]),
        "index.delete_s": med([inside(r, "index.delete.movies") for r in tick_roots]),
        "index.files": _parquet_files(bench.idx),
        "index.tombstone_files": _parquet_files(bench.idx, "_tombstones"),
        "index.bytes": fig["index_bytes"],
        "search.driver_s": counter(searches, "driver_s"),
        "search.jobs_s": counter(searches, "jobs_s"),
        "search.jobs": counter(searches, "jobs"),
        "search.tasks": counter(searches, "tasks"),
        "search.input_bytes": counter(searches, "input_bytes"),
        "search.input_records": counter(searches, "input_records"),
        "search.rows_per_hit": med([
            r["spark"]["input_records"] / max(1, hits.get(r["trace"], 0))
            for r in searches
        ]),
        "search.exec_cpu_s": counter(searches, "exec_cpu_ns", 1e-9),
        "get.jobs_s": counter(gets, "jobs_s"),
        "api.list_s": med([inside(r, "api.list") for r in apis if r["name"] == "list"]),
        "api.detail_s": med([
            inside(r, "api.detail") for r in apis if r["name"] == "detail"
        ]),
        "api.jobs": counter(apis, "jobs"),
        "api.shuffle_bytes": med([
            r["spark"]["shuffle_read_bytes"] + r["spark"]["shuffle_write_bytes"]
            for r in apis
        ]),
        "jvm.gc_s": fig["gc_s"],
        "spark.jobs_per_tick": counter(tick_roots, "jobs"),
        "spark.tasks_per_tick": counter(tick_roots, "tasks"),
        "fuzzy.driver_s": counter(fuzzies, "driver_s"),
        "fuzzy.jobs_s": counter(fuzzies, "jobs_s"),
        "fuzzy.exec_cpu_s": counter(fuzzies, "exec_cpu_ns", 1e-9),
        "fuzzy.hits": med(fuzzy_hits),
        "fuzzy.exec_cpu_ms_per_hit": med([
            r["spark"]["exec_cpu_ns"] / 1e6 / max(1, h)
            for r, h in zip(fuzzies, fuzzy_hits)
        ]),
        "trace.overhead_ms": med(tracer.overhead_s) * 1000.0,
    }
    with open(BENCHMARK_JSON) as f:
        units = {x["name"]: x["unit"] for x in json.load(f)["per_layer"]}
    out = {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}
    self_s = {k: round(v, 6) for k, v in sorted(tracer.self_seconds().items())}
    return out, self_s
