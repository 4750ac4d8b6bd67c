"""Cache-lifecycle helpers for operators that persist intermediates.

Several operators persist a subtree that feeds a self-join (MinHash
band buckets, SimHash signatures, LSH buckets, IVF cell assignments,
the AML target join): the cached plan is the *right* scale shape, but
Spark's CacheManager keys cached DataFrames by logical plan and never
GC-collects them, so in a long-lived session repeated calls would leak
executor storage memory.

Contract: every such operator takes an optional ``cache`` list. Pass a
list to receive the persisted (or eagerly localCheckpoint'ed) handles
and release them once the returned plan has been materialized
(``temp_caches`` does this for you); pass None (the default) when the
session is short-lived or the caller deliberately keeps the cache warm
across calls.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


def register_cache(df: DataFrame, cache: list | None) -> DataFrame:
    """persist() a DataFrame and, when the caller provided a registry
    list, hand it the persisted handle (the caller then owns unpersist)."""
    df = df.persist()
    if cache is not None:
        cache.append(df)
    return df


def release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a localCheckpoint'ed DataFrame's cached
    RDD blocks once its last consumer has been materialized. Without
    this, an iterative loop holds O(iterations) checkpointed copies in
    executor storage until JVM GC + ContextCleaner get around to them.
    Reaches through the LogicalRDD plan node (pinned pyspark build); a
    harmless no-op if the internals move — the blocks then just wait
    for context cleanup as before."""
    try:  # pragma: no cover - py4j internals
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


@contextmanager
def temp_caches():
    """Scope for operator caches::

        with temp_caches() as cache:
            out = minhash_lsh_pairs(df, "id", "text", cache=cache)
            out.write.parquet(path)   # materialize INSIDE the scope
        # every intermediate persisted by the operator is now freed
    """
    handles: list[DataFrame] = []
    try:
        yield handles
    finally:
        for df in handles:
            try:
                df.unpersist()
            except Exception:
                pass
            release_local_checkpoint(df)
