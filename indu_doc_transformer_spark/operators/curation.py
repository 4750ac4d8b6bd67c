"""End-to-end corpus curation funnel: the composition a large-scale
training-data pipeline actually runs — exact dedup, document quality
(Gopher rules), repetition filtering, and benchmark decontamination —
as ONE job emitting a per-document flag vector and the folded keep
decision.

Scale design (100 TB): each stage keeps its own optimal shape — the
dedup survivor is a groupBy over the content fingerprint (map-side
partial combine, so a virally duplicated page folds locally) joined
back on fp (AQE skew-splittable), the Gopher flags are pure per-row
expressions (free), and repetition and decontamination share ONE
Python pass per document: the zero-shuffle Arrow gram-stats kernel
(textstats._gram_stats_table) emits the top n-gram counts and the
distinct gram hashes together. The repetition flag is a per-row
expression over its counts and rides as a group key through the
decontamination aggregation, which broadcasts the benchmark gram set
so the big side joins map-side. The final assembly is one id-keyed
join; at scale the doc id is the natural table key so it
co-partitions with the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import decontam as dc
from . import textstats as ts


def curate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    contam_n: int = 4,
    contam_max: float = 0.2,
) -> DataFrame:
    """Per-document curation flags over ``docs`` against the external
    ``bench`` eval set: (id, dedup_keep, gopher_keep, rep_keep,
    decon_keep, keep). A document survives (keep=1) only if it is the
    canonical copy of its exact-duplicate group AND passes the Gopher
    quality rules AND the n-gram repetition thresholds AND is not
    contaminated with benchmark content."""
    t = F.col(text_col)
    base = docs.select(
        F.col(id_col).alias("id"),
        ts.fingerprint(t).alias("fp"),
        ts.gopher_keep(t).cast("int").alias("gopher_keep"),
    )
    # canonical-copy selection is an AGGREGATE + join-back, never a
    # window partitioned by fp: one viral page (one fp, millions of
    # copies) would serialize a window in a single task, while the
    # groupBy min gets map-side partial combine and the fp join is
    # AQE skew-splittable (same shape as dedup.exact_duplicates).
    # eqNullSafe: groupBy keeps a NULL-fp group (NULL-text docs), and
    # the join-back must not silently drop it — the window this
    # replaced treated NULL as an ordinary partition value
    keep = base.groupBy("fp").agg(F.min("id").alias("_keep_id"))
    base = (
        base.join(keep.withColumnRenamed("fp", "_fp"), base["fp"].eqNullSafe(F.col("_fp")))
        .withColumn("dedup_keep", (F.col("id") == F.col("_keep_id")).cast("int"))
        .drop("fp", "_fp", "_keep_id")
    )

    # one kernel pass feeds both flags; rep_keep rides the decontam
    # groupBy as a key. < 2 tokens: every top{n}_frac is 0.0, rep_keep 1
    ns = (2, 3, 4)
    k = ts._gram_stats_table(docs, id_col, text_col, ns, (), hash_n=contam_n).select(
        "id",
        "grams",
        ts.repetition_keep(*ts._top_fracs(ns)).cast("int").alias("rep_keep"),
    )
    decon = dc._contamination(
        k, bench, text_col, contam_n, contam_max, keys=("rep_keep",)
    ).select("id", "rep_keep", F.col("keep").alias("decon_keep"))

    out = (
        base.join(decon, "id", "left")
        .withColumn("rep_keep", F.coalesce("rep_keep", F.lit(1)))
        .withColumn("decon_keep", F.coalesce("decon_keep", F.lit(1)))
    )
    return out.select(
        "id",
        "dedup_keep",
        "gopher_keep",
        "rep_keep",
        "decon_keep",
        (
            (F.col("dedup_keep") == 1)
            & (F.col("gopher_keep") == 1)
            & (F.col("rep_keep") == 1)
            & (F.col("decon_keep") == 1)
        )
        .cast("int")
        .alias("keep"),
    )


def funnel_stats(flags: DataFrame) -> DataFrame:
    """One-row survivorship summary of a ``curate`` output: how many
    documents each stage would drop on its own, and the final count."""
    return flags.agg(
        F.count("*").cast("long").alias("total"),
        F.sum(1 - F.col("dedup_keep")).cast("long").alias("drop_dedup"),
        F.sum(1 - F.col("gopher_keep")).cast("long").alias("drop_gopher"),
        F.sum(1 - F.col("rep_keep")).cast("long").alias("drop_repetition"),
        F.sum(1 - F.col("decon_keep")).cast("long").alias("drop_decontam"),
        F.sum("keep").cast("long").alias("kept"),
    )
