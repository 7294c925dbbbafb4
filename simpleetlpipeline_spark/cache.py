"""Session-scoped cache governance: the one owner of every cache that
outlives the function that built it.

Spark has no scope that ties a persist() to "all downstream consumers
done", so without an owner a persisted intermediate pins executor
storage for the life of a long-lived session. Queries `track()` the
intermediates they persist; values several catalog queries reuse (the
parsed ANN vectors, the k-means centroids and assignment, the MinHash
and exact pair graphs, parquet footer facts) go through `shared()`,
built once per application by their first consumer.

The one rule of `release_caches()`: DataFrames are released and
rebuilt; driver values are kept. Every tracked DataFrame is
unpersisted and every shared DataFrame entry dropped, so the next
consumer rebuilds a persisted frame. A shared driver value holds no
executor storage and stays; its key carries the `file_stamp()` of the
file it was computed from, so a rewritten file misses instead of
serving a stale value.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

#: Reentrant: shared builds nest (dedup_clusters -> the MinHash pair
#: graph, the k-means assignment -> its centroids).
_LOCK = threading.RLock()
_TRACKED: list[DataFrame] = []
_SHARED: dict = {}


def track(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for release.

    Returns the DataFrame unchanged so call sites can wrap a
    `.persist()` expression inline: ``track(df.persist())``.
    """
    with _LOCK:
        _TRACKED.append(df)
    return df


def shared(spark: SparkSession, key, build):
    """The application's value for `key`, built by `build()` on first
    use. The build runs under the registry lock, so concurrent first
    consumers build once and share one object. A DataFrame result is
    persisted (unless `build` already did, to materialize it eagerly)
    and tracked; any other result is a driver value."""
    full = (spark.sparkContext.applicationId, key)
    with _LOCK:
        if full not in _SHARED:
            value = build()
            if isinstance(value, DataFrame):
                value = track(value if value.is_cached else value.persist())
            _SHARED[full] = value
        return _SHARED[full]


def file_stamp(path: str) -> tuple:
    """(path, mtime_ns, size); (path, None, None) for a missing path."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return (path, None, None)
    return (path, st.st_mtime_ns, st.st_size)


def release_caches() -> int:
    """Unpersist every tracked DataFrame and drop the shared DataFrame
    entries; returns how many frames were released.

    unpersist() is non-blocking: eviction is async cleanup, not a
    correctness barrier.
    """
    with _LOCK:
        for k in [k for k, v in _SHARED.items() if isinstance(v, DataFrame)]:
            del _SHARED[k]
        n = 0
        while _TRACKED:
            df = _TRACKED.pop()
            try:
                df.unpersist()
                n += 1
            except Exception:  # noqa: BLE001 — session may already be stopped
                pass
        return n
