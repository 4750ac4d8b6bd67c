"""Benchmark decontamination: n-gram overlap between a training corpus
and an evaluation/benchmark set — the standard contamination check a
large-scale training-data pipeline runs before training (n-gram overlap
flagging, as popularized by GPT-3/PaLM data cards).

Scale design (100 TB): the benchmark side is normally small (thousands
of eval documents), so its distinct gram set is broadcast and the
training side joins map-side — no shuffle of the 100-TB gram explosion;
an oversized bench input falls back to a shuffle join instead of
OOMing (the hint is gated on Catalyst's size estimate of the bench
plan — no job at plan-build time). The only
wide operations are the per-document aggregation of hit counts (one
shuffle keyed by doc id) and the benchmark distinct (tiny). Grams are
md5-hashed before the join so the broadcast carries 32-byte keys, not
raw n-gram text. Both sides hash with the one Python n-gram pass,
``textstats._gram_stats_table(..., hash_n=n)``; ``curation.curate``
builds that table once and reads its repetition stats and its gram
hashes from the same pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from . import textstats as ts


def _distinct_grams(text, n: int):
    """Distinct whitespace-token n-grams of a text column, md5-hashed:
    the SQL reference of the ``grams`` column of
    ``textstats._gram_stats_table(..., hash_n=n)``."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))
    return F.array_distinct(grams)


def ngram_contamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    max_frac: float = 0.2,
    broadcast_max_bench_bytes: int = 512 << 20,
) -> DataFrame:
    """Per training document: the fraction of its distinct n-grams that
    appear anywhere in the benchmark set, plus the keep decision.

    Returns (id, n_grams, n_contaminated, contam_frac, keep). Documents
    shorter than ``n`` tokens have zero grams and count as clean.

    The broadcast of the benchmark gram set is GATED, not forced —
    and the gate runs NO job at plan-build time (the codebase rule;
    similarity.ann_lsh_topk refuses hidden plan-build jobs the same
    way): it reads Catalyst's sizeInBytes estimate of the bench plan.
    A bench input estimated over ``broadcast_max_bench_bytes`` of raw
    source (e.g. a misused bench=train) degrades gracefully to a
    shuffle join instead of OOMing the driver/executors; eval-suite-
    shaped benches stay well under the default 512 MiB and keep the
    map-side join. The estimate is conservative — raw input bytes,
    while the broadcast itself carries only distinct 32-byte gram
    hashes."""
    k = ts._gram_stats_table(train, id_col, text_col, (), (), hash_n=n)
    return _contamination(k, bench, text_col, n, max_frac, broadcast_max_bench_bytes)


def _contamination(
    k: DataFrame, bench: DataFrame, text_col: str, n: int, max_frac: float,
    broadcast_max_bench_bytes: int = 512 << 20, keys: tuple = (),
) -> DataFrame:
    """``ngram_contamination`` over the train side's
    ``textstats._gram_stats_table(..., hash_n=n)`` ``k`` (``id``,
    ``grams``, plus per-document ``keys`` carried as group keys)."""
    try:
        est = int(
            bench._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # estimate unavailable: fail CLOSED to the
        # shuffle join — force-broadcasting an unsized plan is the
        # exact hazard this gate exists to prevent
        est = broadcast_max_bench_bytes + 1
    hint = broadcast if est <= broadcast_max_bench_bytes else (lambda d: d)
    # the training side's one Python pass already ran in ``k``; here
    # explode_outer keeps zero-gram docs and the broadcast LEFT join
    # marks benchmark hits without dropping clean grams. ``grams`` is a
    # column of the map operator's output, so neither explode re-runs
    # the kernel; the bench side projects a constant id (it needs none).
    exploded = k.select(
        "id",
        *keys,
        F.size("grams").alias("n_grams"),
        F.explode_outer("grams").alias("gram"),
    )
    bg = (
        ts._gram_stats_table(
            bench.select(F.lit(0).alias("_id"), text_col), "_id", text_col,
            (), (), hash_n=n,
        )
        .select(F.explode("grams").alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    out = (
        exploded.join(hint(bg), "gram", "left")
        .groupBy("id", *keys, "n_grams")
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contaminated"))
        .select(
            "id",
            *keys,
            "n_grams",
            "n_contaminated",
            F.when(F.col("n_grams") <= 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("n_contaminated") / F.col("n_grams").cast("double"), 6
                )
            )
            .alias("contam_frac"),
        )
    )
    return out.withColumn(
        "keep", (F.col("contam_frac") <= max_frac).cast("int")
    )


def semantic_contamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-space decontamination — the semantic companion to
    ``ngram_contamination`` (paraphrased eval leakage that shares no
    n-grams): flag training documents whose maximum cosine similarity
    against ANY benchmark embedding reaches ``threshold``. Returns
    (id, max_cos_sim, keep).

    Scale design: the benchmark side is broadcast (eval suites are
    tiny vs the training corpus); the cross product is map-side and
    partial-aggregated before the single train-id-keyed shuffle, so
    the wide state is |train| rows, never |train| x |bench|. NaN
    cosines (zero-norm vectors, ANSI-guarded division) rank greatest
    in max() and count as contaminated on both engines — fail-closed
    for degenerate embeddings."""
    t = train.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_tv"))
    b = bench.select(F.col(vec_col).alias("_bv"))
    from .dedup import embedding_cosine

    sim = embedding_cosine("_tv", "_bv")
    agg = t.crossJoin(broadcast(b)).groupBy("id").agg(
        F.max(sim).alias("_mx")
    )
    # join the verdicts back onto ALL train ids: with an EMPTY bench
    # the cross product vanishes and an inner result would drop every
    # training doc's keep verdict — the ngram gate keeps zero-gram docs
    # (keep=1, clean), so the semantic gate does the same
    return (
        t.select("id")
        .join(agg, "id", "left")
        .select(
            "id",
            F.round(F.col("_mx"), 6).alias("max_cos_sim"),
            F.coalesce(
                (~(F.col("_mx") >= threshold)).cast("int"), F.lit(1)
            ).alias("keep"),
        )
    )
