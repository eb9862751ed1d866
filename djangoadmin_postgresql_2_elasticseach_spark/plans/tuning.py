"""Physical-plan tuning helpers.

``spread``: a deliberate repartition used ONLY where expensive per-row
compute (regex tokenize, md5 minhash, levenshtein) follows a scan whose
parallelism is bounded by file/row-group layout. The driver testdata
ships one row group per table, so a naive chain runs the whole regex/md5
pipeline in ONE task regardless of cluster size. At 100 TB real tables
have thousands of row groups and the spread becomes a no-op cost-wise
(Catalyst still shuffles only the projected columns) — but the local
behavior mirrors the common production case of a few huge gzip/parquet
blobs feeding a CPU-bound stage.

``collect_with_count``: a response page and the count of the rows it
was cut from, in ONE Spark action.

``plan_string`` / ``assert_broadcast_join``: introspection for tests
that pin the physical strategy (broadcasts stay broadcasts, pushed
filters reach the scan).
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame

# The under-partitioned probe (df.rdd.getNumPartitions) compiles the
# physical plan — cheap once, but spread() wraps ~every corpus query, so
# repeated construction of the same plan (bench loops, registry
# re-invocations, tests) would pay the compile each time. Memoize the
# verdict per (session, analyzed-plan semantic hash): identical frames
# probe once per driver lifetime.
#
# ADVICE r2 hardening: the outer map is keyed by a WEAK reference to
# the SparkSession (an id() key could be recycled by a later session at
# the same address), and writers that change a table's file layout
# (append/compact/overwrite) call invalidate_spread_cache() so a stale
# "well-partitioned" verdict cannot outlive the layout that produced it.
_UNDER_PART_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def invalidate_spread_cache(session=None) -> None:
    """Drop memoized under-partitioned verdicts — for one session, or
    all. Called by sources.writers after any layout-changing write."""
    if session is None:
        _UNDER_PART_CACHE.clear()
    else:
        _UNDER_PART_CACHE.pop(session, None)


def _under_partitioned(df: DataFrame, threshold: int) -> bool:
    try:
        per_session = _UNDER_PART_CACHE.setdefault(df.sparkSession, {})
        key = (df.semanticHash(), threshold)
    except Exception:  # semanticHash is a developer API — fall back to probing
        return df.rdd.getNumPartitions() < threshold
    hit = per_session.get(key)
    if hit is None:
        hit = df.rdd.getNumPartitions() < threshold
        per_session[key] = hit
    return hit


def spread(df: DataFrame, cols: list[Column | str] | None = None) -> DataFrame:
    """Repartition to the session's default parallelism before CPU-heavy
    per-row work — but ONLY when the input is under-partitioned (same
    conditional as ``widen``): on a production table with thousands of
    splits this is a no-op, so document bodies are never gratuitously
    re-shuffled at scale. Pass `cols` to keep a co-location key (hash)
    instead of round-robin when a repartition does happen."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if not _under_partitioned(df, max(2, n // 2)):
        return df
    if cols:
        return df.repartition(n, *cols)
    return df.repartition(n)


def widen(df: DataFrame) -> DataFrame:
    """spread() only when the input's natural parallelism is below the
    session's core count (e.g. a single-row-group parquet file). On a
    production table with thousands of splits this is a no-op — no
    gratuitous shuffle at scale, full-width compute locally."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if _under_partitioned(df, max(2, n // 2)):
        return df.repartition(n)
    return df


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the skewed (left) side's key into `salt`
    sub-keys and replicate the right side across all salts, so one hot
    key spreads over `salt` reducers instead of one straggler task.

    AQE's skew-join split handles sort-merge skew automatically; this is
    the explicit tool for when a single key exceeds what one task can
    hold even after AQE splitting (e.g. a celebrity entity in the
    person_film_work bridge at 100 TB). Cost: right side is replicated
    ×salt — use with the smaller side on the right.
    """
    from pyspark.sql import functions as F

    salted_left = left.withColumn(
        "_salt", (F.rand(seed=42) * salt).cast("int")
    )
    salted_right = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = salted_left.join(salted_right, [key, "_salt"], how)
    return out.drop("_salt")


def collect_with_count(page: DataFrame, counted: DataFrame) -> tuple[list, int]:
    """``(page.collect(), counted.count())`` from one Spark action: the
    page rows (each wrapped in one struct column) are unioned with a
    one-row count of ``counted`` and collected together. The count is
    a real aggregate over every row of ``counted`` — unlike an observed
    metric, it cannot be cut short by a limit above it that stops
    reading early. When ``page`` is cut from ``counted`` the two
    branches share the plan's exchanges (Spark reuses an identical
    exchange within one query), so the shared input is resolved once.
    The union concatenates its inputs' partitions in order, and a
    sorted top-k page is one sorted partition, so page order holds."""
    rows = (
        page.selectExpr("struct(*) AS __row")
        .unionByName(
            counted.selectExpr("count(1) AS __count"), allowMissingColumns=True
        )
        .collect()
    )
    count = next(r["__count"] for r in rows if r["__count"] is not None)
    return [r["__row"] for r in rows if r["__row"] is not None], count


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    qe = df._jdf.queryExecution()
    if mode == "formatted":
        return qe.explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    return qe.executedPlan().toString()


def assert_broadcast_join(df: DataFrame, min_broadcasts: int = 1) -> None:
    """Raise if the plan has fewer broadcast joins than expected — guards
    against a dimension-table join silently degrading to sort-merge."""
    plan = plan_string(df, mode="simple")
    n = plan.count("BroadcastHashJoin")
    if n < min_broadcasts:
        raise AssertionError(
            f"expected >= {min_broadcasts} BroadcastHashJoin, found {n}:\n{plan[:2000]}"
        )
