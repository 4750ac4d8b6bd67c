"""Reference-schema SQLite export / import.

Interoperability sink: writes the engine's entity tables into a SQLite
file with EXACTLY the tables and columns the reference's peewee models
create, so reference-side consumers (its GUI / ``load_from_db``) can
open this engine's output, and ``load_sqlite`` reconstructs the entity
tables column-for-column from such a file.

Reference analog: exporters/db_builder/db.py:163-419 ``save_to_db``
(models db.py:84-160) and db.py:456-720 ``load_from_db``. Table and
column names reproduce peewee's defaults for those models: table name
= lowercased class name, foreign-key column = ``<field>_id``, implicit
``id`` INTEGER primary key where the model declares none. Enum columns
store the enum VALUE exactly as peewee's ``EnumField.db_value`` does
(``XTargetType.DEVICE`` -> 'device', ``AttributeType.SIMPLE`` ->
'SimpleAttribute'); JSON columns store ``json.dumps`` text like
playhouse's ``JSONField``. The attribute ``value`` JSON carries the
reference's full ``get_db_representation`` dict (attributes.py:173,
294,410,534) — i.e. the engine's ``value_json`` payload plus the
``name`` key the reference includes.

Scale contract: SQLite is a SINGLE-FILE bounded export — the parquet
entity tables remain the 100-TB surface. All joins and id assignment
run distributed; the only driver work is streaming the final rows into
the file via ``toLocalIterator`` (one Arrow batch in memory at a
time), which is unavoidable for a local .db artifact. The deterministic
``row_number`` windows for the implicit integer ids are global windows
BY DESIGN: they only exist in this bounded sink, never in a pipeline
path.

Notes vs the reference:
- ``documentmodel.fileName`` stores the percent-encoded url
  (``urllib.parse.quote(url, safe='')``): the url is this engine's
  document identity, the encoding keeps it a valid single-segment
  filename for the reference's blob-extraction step
  (``extract_documents_from_db`` writes fileName to disk), and it is
  reversible on load. The reference stores ``basename(path)``, which
  collides for a web corpus.
- ``documentmodel.file`` holds the raw document bytes when a
  ``documents`` DataFrame (url + binary column) is supplied, else an
  empty blob — the reference re-reads source files from disk, which a
  distributed engine cannot assume.
- the engine's ``errors`` table has no reference-schema counterpart
  and is not exported.
"""

from __future__ import annotations

import json
import mimetypes
import sqlite3
import urllib.parse
from typing import Dict, Iterable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_ASPECTS, AspectsConfig
from ..functions import guids as G
# the ONE canonical value_json serializer (compact, sorted keys):
# load_sqlite re-canonicalizes with it so round-trips can't drift from
# the God-factory oracle's serialization
from ..kernels.assemble import _jdump

# engine enum NAME (parquet) <-> reference enum VALUE (EnumField.db_value,
# attributes.py:637-647)
_ATTR_TYPE_TO_DB = {
    "SIMPLE": "SimpleAttribute",
    "ROUTING_TRACKS": "RoutingTracksAttribute",
    "PLC_ADDRESS": "PLCAddressAttribute",
    "PDF_LOCATION": "PDFLocationAttribute",
}
_ATTR_TYPE_FROM_DB = {v: k for k, v in _ATTR_TYPE_TO_DB.items()}

# CREATE statements mirroring peewee's DDL for the reference models
# (db.py:84-160), in save_to_db's creation order (db.py:176-189):
# peewee-default table/column names, implicit integer ids, one index
# per ForeignKeyField, no inline constraint for deferred FKs. The DDL
# TEXT is a best-effort reproduction from peewee's public source —
# peewee is not installed in this environment, so it is not
# byte-verified against a real peewee-written file; that is fine for
# interoperability because peewee consumers (load_from_db) bind
# columns BY NAME, never by DDL text or position. The
# test_ddl_matches_reference_schema golden pins THIS sink's output
# stability across rounds, not peewee's bytes.
REFERENCE_DDL: tuple[str, ...] = (
    'CREATE TABLE "xtargetmodel" ("guid" VARCHAR(255) NOT NULL PRIMARY KEY, '
    '"tag" VARCHAR(512) NOT NULL, "target_type" VARCHAR(255) NOT NULL)',
    'CREATE TABLE "aspectmodel" ("guid" VARCHAR(255) NOT NULL PRIMARY KEY, '
    '"separator" VARCHAR(255) NOT NULL, "value" VARCHAR(255) NOT NULL)',
    'CREATE TABLE "attributemodel" ("id" VARCHAR(255) NOT NULL PRIMARY KEY, '
    '"name" VARCHAR(255) NOT NULL, "value" TEXT NOT NULL, '
    '"type" VARCHAR(255) NOT NULL)',
    'CREATE TABLE "pinmodel" ("guid" VARCHAR(255) NOT NULL PRIMARY KEY, '
    '"name" VARCHAR(255) NOT NULL, "role" VARCHAR(3) NOT NULL, '
    '"childPin_id" VARCHAR(255), "parentLink_id" VARCHAR(255), '
    'FOREIGN KEY ("childPin_id") REFERENCES "pinmodel" ("guid"), '
    'FOREIGN KEY ("parentLink_id") REFERENCES "linkmodel" ("guid"))',
    'CREATE INDEX "pinmodel_childPin_id" ON "pinmodel" ("childPin_id")',
    'CREATE INDEX "pinmodel_parentLink_id" ON "pinmodel" ("parentLink_id")',
    # src_pin/dest_pin are DeferredForeignKeys in the reference
    # (db.py:110-111): peewee resolves them when PinModel is defined
    # (same module, before create_tables), appending the resolved
    # columns AFTER the model's declared fields and creating their
    # FK indexes, but omitting the inline FOREIGN KEY constraint for
    # deferred fields — hence the column order and index set here.
    'CREATE TABLE "linkmodel" ("guid" VARCHAR(255) NOT NULL PRIMARY KEY, '
    '"name" VARCHAR(255) NOT NULL, "parent_id" VARCHAR(255) NOT NULL, '
    '"src_pin_name" VARCHAR(255), "dest_pin_name" VARCHAR(255), '
    '"src_pin_id" VARCHAR(255), "dest_pin_id" VARCHAR(255), '
    'FOREIGN KEY ("parent_id") REFERENCES "connectionmodel" ("guid"))',
    'CREATE INDEX "linkmodel_parent_id" ON "linkmodel" ("parent_id")',
    'CREATE INDEX "linkmodel_src_pin_id" ON "linkmodel" ("src_pin_id")',
    'CREATE INDEX "linkmodel_dest_pin_id" ON "linkmodel" ("dest_pin_id")',
    'CREATE TABLE "connectionmodel" ("guid" VARCHAR(255) NOT NULL PRIMARY KEY, '
    '"src_id" VARCHAR(255), "dst_id" VARCHAR(255), "through_id" VARCHAR(255), '
    'FOREIGN KEY ("src_id") REFERENCES "xtargetmodel" ("guid"), '
    'FOREIGN KEY ("dst_id") REFERENCES "xtargetmodel" ("guid"), '
    'FOREIGN KEY ("through_id") REFERENCES "xtargetmodel" ("guid"))',
    'CREATE INDEX "connectionmodel_src_id" ON "connectionmodel" ("src_id")',
    'CREATE INDEX "connectionmodel_dst_id" ON "connectionmodel" ("dst_id")',
    'CREATE INDEX "connectionmodel_through_id" ON "connectionmodel" ("through_id")',
    'CREATE TABLE "attributedobjattributethroughmodel" '
    '("id" INTEGER NOT NULL PRIMARY KEY, '
    '"attributed_obj_type" VARCHAR(255) NOT NULL, '
    '"attributed_obj_id" VARCHAR(255) NOT NULL, '
    '"attribute_id" VARCHAR(255) NOT NULL, '
    'FOREIGN KEY ("attribute_id") REFERENCES "attributemodel" ("id"))',
    'CREATE INDEX "attributedobjattributethroughmodel_attribute_id" ON '
    '"attributedobjattributethroughmodel" ("attribute_id")',
    'CREATE TABLE "pageobjectthroughmodel" ("id" INTEGER NOT NULL PRIMARY KEY, '
    '"page_id" INTEGER NOT NULL, "object_type" VARCHAR(255) NOT NULL, '
    '"object_id" VARCHAR(255) NOT NULL, '
    'FOREIGN KEY ("page_id") REFERENCES "pagemodel" ("id"))',
    'CREATE INDEX "pageobjectthroughmodel_page_id" ON '
    '"pageobjectthroughmodel" ("page_id")',
    'CREATE TABLE "xtargetaspectthroughmodel" ("id" INTEGER NOT NULL PRIMARY KEY, '
    '"xtarget_id" VARCHAR(255) NOT NULL, "aspect_id" VARCHAR(255) NOT NULL, '
    '"sort_order" INTEGER NOT NULL, '
    'FOREIGN KEY ("xtarget_id") REFERENCES "xtargetmodel" ("guid"), '
    'FOREIGN KEY ("aspect_id") REFERENCES "aspectmodel" ("guid"))',
    'CREATE INDEX "xtargetaspectthroughmodel_xtarget_id" ON '
    '"xtargetaspectthroughmodel" ("xtarget_id")',
    'CREATE INDEX "xtargetaspectthroughmodel_aspect_id" ON '
    '"xtargetaspectthroughmodel" ("aspect_id")',
    'CREATE TABLE "documentmodel" ("id" INTEGER NOT NULL PRIMARY KEY, '
    '"fileName" VARCHAR(255) NOT NULL, "mime" VARCHAR(255) NOT NULL, '
    '"file" BLOB NOT NULL)',
    'CREATE TABLE "pagemodel" ("id" INTEGER NOT NULL PRIMARY KEY, '
    '"number" INTEGER NOT NULL, "document_id" INTEGER NOT NULL, '
    'FOREIGN KEY ("document_id") REFERENCES "documentmodel" ("id"))',
    'CREATE INDEX "pagemodel_document_id" ON "pagemodel" ("document_id")',
    'CREATE TABLE "metadatamodel" ("id" INTEGER NOT NULL PRIMARY KEY, '
    '"configs" TEXT NOT NULL)',
)

_BATCH = 500  # executemany chunk (mirrors the reference's batch_insert)


def _stream(
    cur: sqlite3.Cursor,
    sql: str,
    rows: Iterable[tuple],
    table: str = "",
    max_rows: Optional[int] = None,
) -> None:
    buf: list[tuple] = []
    n = 0
    for r in rows:
        buf.append(r)
        n += 1
        if max_rows is not None and n > max_rows:
            # bounded-sink contract enforced LOUDLY: silently writing
            # a corpus-scale table into one .db file would thrash for
            # hours and produce an unusable artifact — fail fast and
            # point at the scale surface instead
            raise RuntimeError(
                f"export_sqlite: table {table!r} exceeds max_rows="
                f"{max_rows}; the SQLite sink is a bounded "
                "interoperability export — use the parquet entity "
                "tables for corpus-scale output, or raise max_rows "
                "explicitly"
            )
        if len(buf) >= _BATCH:
            cur.executemany(sql, buf)
            buf.clear()
    if buf:
        cur.executemany(sql, buf)


def export_sqlite(
    tables: Dict[str, DataFrame],
    db_file: str,
    config: AspectsConfig = DEFAULT_ASPECTS,
    documents: Optional[DataFrame] = None,
    max_rows: Optional[int] = 50_000_000,
) -> str:
    """Write the entity-table dict to ``db_file`` in the reference's
    exact SQLite schema (save_to_db analog). ``documents`` optionally
    supplies blobs: a DataFrame with ``url`` and a binary column
    (``html`` or ``content``). ``max_rows`` bounds any single table —
    exceeding it raises RuntimeError (the bounded-sink contract,
    enforced loudly; pass ``max_rows=None`` to disable)."""
    x = tables["xtargets"]
    aspects = tables["aspects"]
    attrs = tables["attributes"]
    pins = tables["pins"]
    links = tables["links"]
    conns = tables["connections"]
    oa = tables["object_attributes"]
    xa = tables["xtarget_aspects"]
    lineage = tables["lineage"]

    # link -> head-pin guids: the reference's link.src_pin/dest_pin
    # (god.py:553-560), re-derived from the link's own pin column
    links_full = links.withColumn(
        "src_pin_id", F.expr(G.sql_top_pin("src_pin_name", "src", "guid"))["guid"]
    ).withColumn(
        "dest_pin_id", F.expr(G.sql_top_pin("dest_pin_name", "dst", "guid"))["guid"]
    )

    # attributed_obj_type: resolve each object guid against the entity
    # tables it can belong to (db.py:315-348 writes one through row per
    # owner type). Inner join: assembly only attaches to built objects.
    guid_types = (
        x.select("guid", F.lit("xtarget").alias("t"))
        .unionByName(pins.select("guid", F.lit("pin").alias("t")))
        .unionByName(links.select("guid", F.lit("link").alias("t")))
        .unionByName(aspects.select("guid", F.lit("aspect").alias("t")))
    )
    oa_typed = oa.join(
        guid_types, oa.object_guid == guid_types.guid, "inner"
    ).select(
        F.col("t").alias("attributed_obj_type"),
        F.col("object_guid").alias("attributed_obj_id"),
        F.col("attribute_guid").alias("attribute_id"),
    )

    # documents / pages with deterministic integer ids (global windows:
    # bounded-sink-only, never a pipeline path — see module docstring)
    docs_df = (
        lineage.select("url").distinct()
        .withColumn("doc_id", F.row_number().over(Window.orderBy("url")))
    )
    if documents is not None:
        blob_col = "html" if "html" in documents.columns else "content"
        docs_df = docs_df.join(
            documents.select("url", F.col(blob_col).alias("blob"))
            .dropDuplicates(["url"]),
            "url",
            "left",
        )
    else:
        docs_df = docs_df.withColumn("blob", F.lit(None).cast("binary"))
    # persist the id-assignment frames: each feeds several of the
    # insert jobs below, and re-running a global row_number window per
    # job would repeat the most serialized part of the export
    docs_df = docs_df.persist()
    pages_df = (
        lineage.select("url", "page_no").distinct()
        .withColumn("page_id", F.row_number().over(Window.orderBy("url", "page_no")))
        .join(docs_df.select("url", "doc_id"), "url")
    ).persist()
    lineage_ids = lineage.join(
        pages_df.select("url", "page_no", "page_id"), ["url", "page_no"]
    )

    con = sqlite3.connect(db_file)
    try:
        cur = con.cursor()

        def stream(sql: str, rows) -> None:
            # table name for the max_rows error = first quoted ident
            _stream(cur, sql, rows, table=sql.split('"')[1],
                    max_rows=max_rows)

        # save_to_db drops + recreates (db.py:192-195)
        for tbl in ("xtargetmodel", "aspectmodel", "attributemodel",
                    "pinmodel", "linkmodel", "connectionmodel",
                    "attributedobjattributethroughmodel",
                    "pageobjectthroughmodel", "xtargetaspectthroughmodel",
                    "documentmodel", "pagemodel", "metadatamodel"):
            cur.execute(f'DROP TABLE IF EXISTS "{tbl}"')
        for stmt in REFERENCE_DDL:
            cur.execute(stmt)

        stream(
            'INSERT INTO "xtargetmodel" ("guid","tag","target_type") VALUES (?,?,?)',
            ((r.guid, r.tag, r.target_type)
             for r in x.select("guid", "tag", "target_type").toLocalIterator()),
        )
        stream(
            'INSERT INTO "aspectmodel" ("guid","separator","value") VALUES (?,?,?)',
            ((r.guid, r.separator, r.value)
             for r in aspects.select("guid", "separator", "value").toLocalIterator()),
        )

        def attr_rows():
            it = attrs.select("guid", "name", "type", "value_json").toLocalIterator()
            for r in it:
                payload = json.loads(r.value_json)
                payload["name"] = r.name  # reference reprs include name
                yield (r.guid, r.name, json.dumps(payload),
                       _ATTR_TYPE_TO_DB[r.type])

        stream(
            'INSERT INTO "attributemodel" ("id","name","value","type") '
            "VALUES (?,?,?,?)",
            attr_rows(),
        )
        stream(
            'INSERT INTO "pinmodel" '
            '("guid","name","role","childPin_id","parentLink_id") '
            "VALUES (?,?,?,?,?)",
            ((r.guid, r.name, r.role, r.child_guid, r.link_guid)
             for r in pins.select(
                 "guid", "name", "role", "child_guid", "link_guid"
             ).toLocalIterator()),
        )
        stream(
            'INSERT INTO "linkmodel" ("guid","name","parent_id","src_pin_id",'
            '"dest_pin_id","src_pin_name","dest_pin_name") VALUES (?,?,?,?,?,?,?)',
            ((r.guid, r.name, r.connection_guid, r.src_pin_id, r.dest_pin_id,
              r.src_pin_name, r.dest_pin_name)
             for r in links_full.select(
                 "guid", "name", "connection_guid", "src_pin_id",
                 "dest_pin_id", "src_pin_name", "dest_pin_name"
             ).toLocalIterator()),
        )
        stream(
            'INSERT INTO "connectionmodel" ("guid","src_id","dst_id","through_id") '
            "VALUES (?,?,?,?)",
            ((r.guid, r.src_guid, r.dst_guid, r.through_guid)
             for r in conns.select(
                 "guid", "src_guid", "dst_guid", "through_guid"
             ).toLocalIterator()),
        )
        stream(
            'INSERT INTO "attributedobjattributethroughmodel" '
            '("attributed_obj_type","attributed_obj_id","attribute_id") '
            "VALUES (?,?,?)",
            ((r.attributed_obj_type, r.attributed_obj_id, r.attribute_id)
             for r in oa_typed.orderBy(
                 "attributed_obj_type", "attributed_obj_id", "attribute_id"
             ).toLocalIterator()),
        )
        stream(
            'INSERT INTO "xtargetaspectthroughmodel" '
            '("xtarget_id","aspect_id","sort_order") VALUES (?,?,?)',
            ((r.xtarget_guid, r.aspect_guid, r.sort_order)
             for r in xa.orderBy(
                 "xtarget_guid", "sort_order", "aspect_guid"
             ).toLocalIterator()),
        )

        def doc_rows():
            it = docs_df.select("doc_id", "url", "blob").orderBy("doc_id")
            for r in it.toLocalIterator():
                fname = urllib.parse.quote(r.url, safe="")
                mime, _ = mimetypes.guess_type(r.url)
                blob = bytes(r.blob) if r.blob is not None else b""
                yield (r.doc_id, fname, mime or "application/octet-stream", blob)

        stream(
            'INSERT INTO "documentmodel" ("id","fileName","mime","file") '
            "VALUES (?,?,?,?)",
            doc_rows(),
        )
        stream(
            'INSERT INTO "pagemodel" ("id","number","document_id") VALUES (?,?,?)',
            ((r.page_id, r.page_no, r.doc_id)
             for r in pages_df.select(
                 "page_id", "page_no", "doc_id"
             ).orderBy("page_id").toLocalIterator()),
        )
        stream(
            'INSERT INTO "pageobjectthroughmodel" '
            '("page_id","object_type","object_id") VALUES (?,?,?)',
            ((r.page_id, r.object_type, r.object_guid)
             for r in lineage_ids.select(
                 "page_id", "object_type", "object_guid"
             ).orderBy("page_id", "object_type", "object_guid").toLocalIterator()),
        )
        cur.execute(
            'INSERT INTO "metadatamodel" ("configs") VALUES (?)',
            (json.dumps([
                {"Separator": lv.separator, "Aspect": lv.aspect}
                for lv in config.levels
            ]),),
        )
        con.commit()
    finally:
        con.close()
        docs_df.unpersist()
        pages_df.unpersist()
    return db_file


def load_sqlite(spark: SparkSession, db_file: str) -> Dict[str, DataFrame]:
    """load_from_db analog (db.py:456-720), column-for-column:
    reconstruct the engine's entity-table dict from a reference-schema
    SQLite file. Attribute ``value`` JSON is split back into the
    ``name`` column and the engine's canonical ``value_json``; urls are
    percent-decoded from ``fileName``. Driver-side reads: the file is a
    local bounded artifact by definition."""
    con = sqlite3.connect(db_file)
    try:
        cur = con.cursor()

        def q(sql):
            return cur.execute(sql).fetchall()

        out: Dict[str, DataFrame] = {}
        out["xtargets"] = spark.createDataFrame(
            q('SELECT guid, tag, target_type FROM "xtargetmodel"'),
            "guid string, tag string, target_type string",
        )
        out["aspects"] = spark.createDataFrame(
            q('SELECT guid, separator, value FROM "aspectmodel"'),
            "guid string, separator string, value string",
        )
        out["xtarget_aspects"] = spark.createDataFrame(
            q('SELECT xtarget_id, aspect_id, sort_order '
              'FROM "xtargetaspectthroughmodel"'),
            "xtarget_guid string, aspect_guid string, sort_order int",
        )
        out["connections"] = spark.createDataFrame(
            q('SELECT guid, src_id, dst_id, through_id FROM "connectionmodel"'),
            "guid string, src_guid string, dst_guid string, through_guid string",
        )
        out["links"] = spark.createDataFrame(
            q('SELECT guid, name, parent_id, src_pin_name, dest_pin_name '
              'FROM "linkmodel"'),
            "guid string, name string, connection_guid string, "
            "src_pin_name string, dest_pin_name string",
        )
        out["pins"] = spark.createDataFrame(
            q('SELECT guid, name, role, childPin_id, parentLink_id '
              'FROM "pinmodel"'),
            "guid string, name string, role string, child_guid string, "
            "link_guid string",
        )

        attr_rows = []
        for guid, name, value, typ in q(
            'SELECT id, name, value, type FROM "attributemodel"'
        ):
            payload = json.loads(value)
            payload.pop("name", None)
            attr_rows.append((guid, name, _ATTR_TYPE_FROM_DB[typ],
                              _jdump(payload)))
        out["attributes"] = spark.createDataFrame(
            attr_rows, "guid string, name string, type string, value_json string"
        )

        out["object_attributes"] = spark.createDataFrame(
            q('SELECT attributed_obj_id, attribute_id '
              'FROM "attributedobjattributethroughmodel"'),
            "object_guid string, attribute_guid string",
        )
        out["lineage"] = spark.createDataFrame(
            [
                (urllib.parse.unquote(fname), number, obj_id, obj_type)
                for fname, number, obj_id, obj_type in q(
                    'SELECT d.fileName, p.number, t.object_id, t.object_type '
                    'FROM "pageobjectthroughmodel" t '
                    'JOIN "pagemodel" p ON t.page_id = p.id '
                    'JOIN "documentmodel" d ON p.document_id = d.id'
                )
            ],
            "url string, page_no int, object_guid string, object_type string",
        )
        return out
    finally:
        con.close()


def load_config_sqlite(db_file: str) -> AspectsConfig:
    """Rebuild the aspects config from metadatamodel.configs
    (load_from_db's AspectsConfig.init_from_list step, db.py:497-498)."""
    con = sqlite3.connect(db_file)
    try:
        (txt,) = con.execute('SELECT configs FROM "metadatamodel"').fetchone()
        return AspectsConfig.from_list(json.loads(txt))
    finally:
        con.close()


# the exporter-registry entry for this sink lives in sinks.py
# ('sqlite' format, lazy import to avoid a cycle)
