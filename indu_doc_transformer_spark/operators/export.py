"""Structured exports: aspect prefix tree + entity stats + JSON dump.

(The full AML/CAEX export lives in operators/aml.py; this module keeps
the lighter analytical exports.)

Re-expresses the reference's manager-level exports
(/root/reference/src/indu_doc/manager.py:317-382 get_tree/get_stats;
cli.py:73-92 JSON export) Spark-first: each is one grouped aggregation
per table, no driver-side entity materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ASPECTS, AspectsConfig
from ..functions.tags import sql_tag_parts


def aspect_tree(
    xtargets: DataFrame, config: AspectsConfig = DEFAULT_ASPECTS, depth: int = 3
) -> DataFrame:
    """Prefix tree by aspect levels (A14, manager.py:317-345 get_tree):
    grouping over the first `depth` hierarchy levels with the tag set
    collected at each leaf — the manual-rollup-as-groupBy recast."""
    seps = config.separators[:depth]
    # tag -> parts map via the same tag grammar the assembly layer uses
    df = xtargets.withColumn("parts", F.expr(sql_tag_parts("tag", config)))
    levels = [
        F.concat(
            F.lit(sep),
            F.coalesce(
                F.try_element_at(
                    F.try_element_at("parts", F.lit(sep)), F.lit(1)
                ),
                F.lit(""),
            ),
        ).alias(f"level{i}")
        for i, sep in enumerate(seps, 1)
    ]
    level_names = [f"level{i}" for i in range(1, len(seps) + 1)]
    return (
        df.select(*levels, "tag")
        .groupBy(*level_names)
        .agg(F.sort_array(F.collect_set("tag")).alias("tags"), F.count("*").alias("n"))
    )


def stats(tables: dict[str, DataFrame]) -> DataFrame:
    """Entity counts (manager.py:350-382): (table, n)."""
    parts = [
        df.groupBy().count().select(F.lit(name).alias("table"), F.col("count").alias("n"))
        for name, df in tables.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def json_export(tables: dict[str, DataFrame], path: str) -> None:
    """df.write.json per entity table (cli.py:73-92 analog)."""
    for name, df in tables.items():
        df.write.mode("overwrite").json(f"{path}/{name}")
