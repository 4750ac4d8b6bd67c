"""Arrow-vectorized pandas UDFs for the tag tokenizer family.

The ordered-grouping semantics of the reference tokenizer
(tag.py:340-400) do not map cleanly onto regexp_extract_all +
higher-order functions (values must be sliced *between* separator
matches and grouped by separator preserving order), so these two
kernels stay Python — but batched over Arrow, never per-row
(SURVEY.md 2.10). Everything else in the assembly layer is native SQL.

UDFs are built per AspectsConfig so the separator set rides the
closure (broadcast once per task)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..config import AspectsConfig
from ..kernels import tagparse as tp


def make_tag_parts_udf(config: AspectsConfig):
    """tag -> map<separator, array<values>> with priority-slice fill
    (tag.py:237-257); {} for unparseable tags."""
    cfg = AspectsConfig.from_list(
        [{"Separator": s, "Aspect": a} for s, a in zip(config.separators, config.aspects)]
    )

    @F.pandas_udf(MapType(StringType(), ArrayType(StringType())))
    def parts_udf(tags: pd.Series) -> pd.Series:
        return pd.Series(
            [{k: list(v) for k, v in tp.tag_parts(t or "", cfg).items()} for t in tags]
        )

    return parts_udf


_ASPECT_SCHEMA = StructType(
    [
        StructField("sep", StringType()),
        StructField("value", StringType()),
        StructField("status", IntegerType()),  # 0 ok, 1 unparseable, 2 composite
    ]
)


def make_single_aspect_udf(config: AspectsConfig):
    """Raw single-aspect parse for create_aspect (god.py:302-340):
    must yield exactly one separator with one value."""
    separators = tuple(config.separators)

    @F.pandas_udf(_ASPECT_SCHEMA)
    def single_aspect(tags: pd.Series) -> pd.DataFrame:
        seps, vals, status = [], [], []
        for t in tags:
            parsed = tp.try_parse_tag(t or "", separators)
            if not parsed:
                seps.append(None); vals.append(None); status.append(1)
                continue
            sep, vs = next(iter(parsed.items()))
            if len(parsed) != 1 or len(vs) != 1:
                seps.append(None); vals.append(None); status.append(2)
            else:
                seps.append(sep); vals.append(vs[0]); status.append(0)
        return pd.DataFrame({"sep": seps, "value": vals, "status": status})

    return single_aspect
