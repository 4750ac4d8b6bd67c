"""Approximate-nearest-neighbor search over embedding columns.

- ``ann_bruteforce_topk``: exact cosine top-k per probe. The probe set
  is small and broadcast; candidates stream map-side; the only shuffle
  is the per-probe top-k window. This is the correctness baseline.
- ``ann_lsh_topk``: a scale path — deterministic random-hyperplane
  LSH buckets both sides, candidates are generated per (probe, bucket)
  equi-join, then exact cosine re-ranks. At 100 TB the bucket join
  replaces the probes x corpus product with a key-local join.
- ``ann_ivf_topk``: the other scale path — IVF: a small coarse
  quantizer (centroid set, broadcast) assigns every vector to its
  nearest cell map-side; probes search only their ``nprobe`` nearest
  cells via a cell equi-join, then exact cosine re-ranks. At 100 TB
  the table is written partitioned by cell so a probe reads only its
  cells (partition pruning instead of a full scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import sql_cosine, sql_dot
from ..plans.cache import register_cache
from .dedup import embedding_cosine


def _topk(scored: DataFrame, k: int, num_salts: int = 16) -> DataFrame:
    """Per-probe top-k by (cos_sim DESC, vec_id ASC) as a salted
    two-phase aggregation, NOT a row_number window: a window
    partitioned by probe_id serializes each probe's full candidate set
    in one task (a hot LSH/IVF bucket at 100 TB), and AQE never splits
    window partitions. Phase 1 caps each (probe, salt) group to its
    local k (map-side combine bounds the collect_list); phase 2 merges
    the <= num_salts*k survivors per probe. The sort key struct
    (order-class, -cos_sim, vec_id) reproduces the window ordering
    EXACTLY for degenerate candidates too: both engines order a DESC
    sort as NaN first (IEEE 0/0 from a zero-norm vector; NaN compares
    greater than everything in Spark and DuckDB), then real
    similarities, then NULLS LAST — while a bare array_sort would
    misplace both. Deterministic, tie-broken by vec_id."""
    key = F.struct(
        F.when(F.isnan("cos_sim"), -1)
        .when(F.col("cos_sim").isNull(), 1)
        .otherwise(0)
        .alias("order_class"),
        F.coalesce(
            F.when(~F.isnan("cos_sim"), -F.col("cos_sim")), F.lit(0.0)
        ).alias("neg_sim"),
        F.col("vec_id").alias("vec_id"),
        F.col("cos_sim").alias("cos_sim"),
    )
    salted = scored.withColumn(
        "_salt", F.pmod(F.crc32(F.col("vec_id").cast("string")), F.lit(num_salts))
    )
    local = salted.groupBy("probe_id", "_salt").agg(
        F.slice(F.array_sort(F.collect_list(key)), 1, k).alias("tk")
    )
    merged = local.groupBy("probe_id").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("tk"))), 1, k).alias("tk")
    )
    return merged.select(
        "probe_id", F.posexplode("tk").alias("_pos", "s")
    ).select(
        "probe_id",
        F.col("s.vec_id").alias("vec_id"),
        F.col("s.cos_sim").alias("cos_sim"),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )


def ann_bruteforce_topk(
    df: DataFrame, id_col: str, vec_col: str, probe_ids: list[int], k: int = 5
) -> DataFrame:
    """Exact cosine top-k: (probe_id, vec_id, cos_sim, rank).

    Each side's norm sqrt(dot(x,x)) is computed ONCE per vector before
    the probe cross join (guide §1.2 "per-task work"): the fold is an
    interpreted higher-order expression, and evaluating it per
    (probe, candidate) pair re-ran two full 64-element folds per row —
    3x the interpreted work for |probes| x |corpus| rows. sqrt and
    multiply over the same doubles are bit-identical to the inline
    embedding_cosine form (pinned by
    tests/test_operators.py::test_ann_bruteforce_norm_precompute_parity)."""
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    base = base.withColumn("_n", F.sqrt(F.expr(sql_dot("v", "v"))))
    probes = base.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("_n").alias("_pn"),
    )
    scored = base.crossJoin(F.broadcast(probes)).where(
        F.col("vec_id") != F.col("probe_id")
    )
    denom = F.col("_pn") * F.col("_n")
    scored = scored.withColumn(
        "cos_sim",
        F.round(
            F.when(denom != 0, F.expr(sql_dot("pv", "v")) / denom).otherwise(
                F.lit(float("nan"))
            ),
            6,
        ),
    )
    return _topk(scored, k)


def hyperplane_sign(v: Column, plane: int, dim: int) -> Column:
    """Deterministic pseudo-random hyperplane: component i of plane p is
    +1/-1 by a bit of md5(p:i). Sign of <v, h_p> is one LSH bit."""
    dot = F.aggregate(
        F.sequence(F.lit(1), F.lit(dim)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(v, i).cast("double")
        * F.when(
            F.substring(
                F.md5(F.concat(F.lit(f"{plane}:"), i.cast("string"))), 1, 1
            ).isin(*"01234567"),
            1.0,
        ).otherwise(-1.0),
    )
    return F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0"))


def lsh_bucket(v: Column, num_planes: int, dim: int) -> Column:
    return F.concat(*[hyperplane_sign(v, p, dim) for p in range(num_planes)])


def ann_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_ids: list[int],
    k: int = 5,
    num_planes: int = 6,
    dim: int | None = None,
    multiprobe: int = 0,
) -> DataFrame:
    """Bucketed ANN: equi-join on the hyperplane bucket, exact cosine
    re-rank within the bucket. Recall < 1 by construction (approximate);
    ``multiprobe`` > 0 additionally probes buckets at hamming distance
    1 (first ``multiprobe`` bit flips), trading candidate volume for
    recall without extra hash tables.

    ``dim`` is required: Spark array columns carry no length in the
    schema, and inferring it with ``df.first()`` would trigger a job at
    plan-build time (a hidden driver-side action)."""
    if dim is None:
        raise ValueError(
            "pass dim explicitly (array columns carry no length in the schema; "
            "inferring it would run a job at plan-build time)"
        )
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    base = base.withColumn("bucket", lsh_bucket(F.col("v"), num_planes, dim))
    probes = base.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.explode(probe_buckets(F.col("bucket"), num_planes, multiprobe)).alias(
            "pbucket"
        ),
    )
    scored = base.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("pbucket")) & (F.col("vec_id") != F.col("probe_id")),
    ).withColumn("cos_sim", embedding_cosine("pv", "v"))
    # multi-probe can reach the same candidate via several buckets
    scored = scored.dropDuplicates(["probe_id", "vec_id"])
    return _topk(scored, k)


def probe_buckets(bucket: Column, num_planes: int, multiprobe: int) -> Column:
    """The probe's own bucket plus (with ``multiprobe`` > 0) every
    bucket at hamming distance 1 — the standard multi-probe trick: a
    near neighbor that disagrees on exactly one hyperplane lands one
    bit-flip away, so probing the flipped buckets recovers it without
    more tables. ``multiprobe`` caps how many flipped buckets to add
    (flips ordered by plane index)."""
    flips = [
        F.concat(
            F.substring(bucket, 1, p),
            F.when(F.substring(bucket, p + 1, 1) == "1", "0").otherwise("1"),
            F.substring(bucket, p + 2, num_planes - p - 1),
        )
        for p in range(min(multiprobe, num_planes))
    ]
    return F.array(bucket, *flips)


def nearest_cells(v_col: str, centroids: DataFrame, n: int) -> Column:
    """Ids of the ``n`` centroids nearest (by cosine) to column
    ``v_col``. The centroid set is tiny and inlined as literal arrays
    in ONE generated SQL expression (a Column-API build would make
    thousands of py4j calls) — evaluation is map-side, no join, no
    shuffle. Tie-break: (sim DESC, cell DESC), from
    reverse(array_sort(struct(sim, cell)))."""
    rows = centroids.collect()  # bounded: the coarse quantizer is small

    structs = []
    for r in rows:
        cv = "array(" + ",".join(f"cast({float(x)!r} as double)" for x in r.cv) + ")"
        structs.append(f"struct({sql_cosine(cv, v_col)} AS sim, {int(r.cell)} AS cell)")
    cells = "array(" + ",".join(structs) + ")"
    return F.expr(
        f"transform(slice(reverse(array_sort({cells})), 1, {n}), c -> c.cell)"
    )


def ann_ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_ids: list[int],
    k: int = 5,
    num_cells: int = 8,
    nprobe: int = 2,
    cache: list | None = None,
) -> DataFrame:
    """IVF ANN: coarse-quantize every vector to its nearest centroid
    cell (centroids = the first ``num_cells`` vectors by id — a
    deterministic stand-in for a trained k-means codebook, which would
    be fit offline and broadcast the same way), then probes search only
    their ``nprobe`` nearest cells. Returns (probe_id, vec_id, cos_sim,
    rank)."""
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    centroids = (
        base.where(F.col("vec_id") < num_cells)
        .select(F.col("vec_id").cast("int").alias("cell"), F.col("v").alias("cv"))
        .orderBy("cell")
    )
    assigned = register_cache(
        base.withColumn("cell", F.element_at(nearest_cells("v", centroids, 1), 1)),
        cache,
    )  # the centroid-distance expr is heavy; joined twice
    probes = assigned.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.explode(nearest_cells("v", centroids, nprobe)).alias("pcell"),
    )
    scored = assigned.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("pcell")) & (F.col("vec_id") != F.col("probe_id")),
    ).withColumn("cos_sim", embedding_cosine("pv", "v"))
    return _topk(scored, k)
