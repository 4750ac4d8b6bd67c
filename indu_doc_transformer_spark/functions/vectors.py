"""Embedding-vector similarity as SQL string templates (arguments and
result are SQL expressions), in the style of the ``sql_*`` GUID
templates: constants only, never row data.

``sql_dot`` is the one dot-product fold: an explicit sequential
``aggregate`` over the indices, so the summation order is the DuckDB
oracle's and every caller's doubles are bit-identical.
``dedup.embedding_cosine`` (through ``F.expr``), the per-vector norm
precompute of ``similarity.ann_bruteforce_topk`` and the inlined
centroid arrays of ``similarity.nearest_cells`` all use it.
"""

from __future__ import annotations


def sql_dot(a: str, b: str) -> str:
    """SQL template: the dot product of two numeric arrays as a double,
    summed in index order."""
    return (
        f"aggregate(sequence(1, size({a})), cast(0.0 as double), "
        f"(acc, i) -> acc + cast(element_at({a}, i) as double)"
        f" * cast(element_at({b}, i) as double))"
    )


def sql_cosine(a: str, b: str) -> str:
    """SQL template: cosine similarity rounded to 6 decimals. A
    zero-norm vector gives NaN, not a job-killing error: ANSI Spark
    raises divideByZeroError even for doubles, so the division is
    guarded, and DuckDB's IEEE 0/0 gives the same NaN."""
    denom = f"(sqrt({sql_dot(a, a)}) * sqrt({sql_dot(b, b)}))"
    return (
        f"round(CASE WHEN {denom} != 0 THEN {sql_dot(a, b)} / {denom} "
        f"ELSE cast('NaN' as double) END, 6)"
    )
