"""The exporter table: one uniform write surface over the entity-table
dict.

Reference analog: /root/reference/src/indu_doc/exporters/exporter.py
:1-42 (InduDocExporter ABC with export_data/import_data) and its
db_exporter implementation — re-expressed for Spark: an exporter is a
callable ``(tables: dict[str, DataFrame], path: str, **opts) -> None``
keyed by its format name in ``EXPORTERS``; ``export_tables``
dispatches, and the CLI's ``--export-format`` offers the same names.
The entries wrap the json / parquet / AML / SQLite writers, so the CLI
and pipeline keep one sink API. ``read_entity_tables`` is the
import_data analog for the parquet format (round-trip)."""

from __future__ import annotations

import os
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession

from ..plans.cache import temp_caches


def _export_parquet(tables, path, **opts):
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(path, name))


def _export_json(tables, path, **opts):
    from .export import json_export

    json_export(tables, path)


def _export_aml(tables, path, config=None, **opts):
    """Distributed CAEX export: fragment table + stitch index (the
    value-oracled x_aml_export path). The fragments' persisted target
    join is released once the export is written."""
    from .aml import aml_fragments, write_aml_fragments

    kw = {} if config is None else {"config": config}
    with temp_caches() as cache:
        write_aml_fragments(aml_fragments(tables, cache=cache, **kw), path, **kw)


def _export_sqlite(tables, path, config=None, documents=None, **opts):
    # Forward the remaining opts (notably max_rows) so the bounded-
    # export cap can be raised/disabled through THIS public surface —
    # the cap's error message tells users to do exactly that.
    from .sqlite_sink import export_sqlite

    kw = dict(opts)
    if config is not None:
        kw["config"] = config
    export_sqlite(tables, path, documents=documents, **kw)


EXPORTERS: Dict[str, Callable] = {
    "json": _export_json,
    "parquet": _export_parquet,
    "aml": _export_aml,
    "sqlite": _export_sqlite,
}


def export_tables(
    tables: Dict[str, DataFrame], path: str, format: str = "parquet", **opts
) -> None:
    """Write the entity-table dict with the ``EXPORTERS`` entry named
    by ``format``."""
    try:
        export = EXPORTERS[format]
    except KeyError:
        raise ValueError(
            f"Unsupported export format: {format} (known: {', '.join(sorted(EXPORTERS))})"
        ) from None
    export(tables, path, **opts)


def read_entity_tables(
    spark: SparkSession, path: str, names: list[str] | None = None
) -> Dict[str, DataFrame]:
    """import_data analog: reconstruct the entity-table dict from a
    parquet export directory. ONLY genuinely-absent tables are
    skipped; a present-but-unreadable table (permissions, corrupt
    footer, schema error) propagates — silently reporting it as
    'absent' would hide data loss (ADVICE r5)."""
    if names is None:
        from ..pipeline import ENTITY_TABLES as names  # noqa: F811
    from pyspark.errors import AnalysisException

    out: Dict[str, DataFrame] = {}
    for name in names:
        p = os.path.join(path, name)
        try:
            out[name] = spark.read.parquet(p)
        except AnalysisException as e:
            # Spark 4 raises PATH_NOT_FOUND for a missing directory;
            # any other analysis failure (e.g. unreadable footer,
            # conflicting schema) is a real error and must surface.
            klass = e.getErrorClass() if hasattr(e, "getErrorClass") else None
            if klass == "PATH_NOT_FOUND" or "Path does not exist" in str(e):
                continue
            raise
    return out
