"""Reference-schema SQLite sink round-trip.

The export must write EXACTLY the reference's db_builder tables
(db.py:84-160 models, save_to_db:163-419) so reference consumers can
open it, and load_sqlite (load_from_db:456-720 analog) must
reconstruct every entity table set-identically."""

import json
import sqlite3
import urllib.parse

import pytest

from indu_doc_transformer_spark.operators import assembly as asm_op
from indu_doc_transformer_spark.operators import extraction as ex
from indu_doc_transformer_spark.operators import sqlite_sink as sq
from indu_doc_transformer_spark.sources.corpus import corpus_df

N_DOCS = 60


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    docs = corpus_df(spark, N_DOCS, partitions=4)
    rows = ex.rows_table(ex.extract(docs, num_partitions=4))
    tables = asm_op.assemble(rows)
    db = str(tmp_path_factory.mktemp("db") / "export.db")
    sq.export_sqlite(tables, db, documents=docs)
    return tables, db


def test_ddl_matches_reference_schema(setup):
    """sqlite_master must hold exactly the peewee-style DDL pinned in
    REFERENCE_DDL — tables, column names/order, FK columns, indexes."""
    _, db = setup
    con = sqlite3.connect(db)
    try:
        stored = {
            sql for (sql,) in con.execute(
                "SELECT sql FROM sqlite_master WHERE sql IS NOT NULL"
            )
        }
    finally:
        con.close()
    assert stored == set(sq.REFERENCE_DDL)


def test_roundtrip_set_identical(spark, setup):
    """export -> load_sqlite reproduces every entity table (the
    reference's load_from_db reconstruction, column-for-column)."""
    tables, db = setup
    back = sq.load_sqlite(spark, db)
    for name in ("xtargets", "aspects", "xtarget_aspects", "connections",
                 "links", "pins", "attributes", "object_attributes",
                 "lineage"):
        want = {tuple(r) for r in tables[name].collect()}
        got = {tuple(r) for r in back[name].collect()}
        assert got == want, name
        assert got, name  # non-degenerate fixture


def test_link_head_pins(setup):
    """linkmodel.src_pin_id/dest_pin_id must reference the chain-HEAD
    pin (the reference's link.set_src_pin target, god.py:553-560): its
    chain walks via childPin_id to pins of the same link+role, and no
    pin of that link+role points back at it."""
    _, db = setup
    con = sqlite3.connect(db)
    try:
        pins = {
            g: (role, child, link) for g, role, child, link in con.execute(
                "SELECT guid, role, childPin_id, parentLink_id FROM pinmodel"
            )
        }
        links = con.execute(
            "SELECT guid, src_pin_id, dest_pin_id FROM linkmodel"
        ).fetchall()
    finally:
        con.close()
    children = {c for _, (_, c, _) in pins.items() if c}
    checked = 0
    for guid, src, dst in links:
        for head, role in ((src, "src"), (dst, "dst")):
            assert head is not None, (guid, role)
            assert head not in children  # head: nobody's child
            seen = set()
            cur = head
            while cur is not None:
                assert cur not in seen  # acyclic
                seen.add(cur)
                prole, child, plink = pins[cur]
                assert prole == role and plink == guid
                cur = child
            checked += 1
    assert checked >= 2


def test_attribute_json_and_enum_values(setup):
    """attributemodel stores the reference's enum VALUES and full
    get_db_representation JSON (name key included)."""
    tables, db = setup
    con = sqlite3.connect(db)
    try:
        rows = con.execute(
            "SELECT id, name, value, type FROM attributemodel"
        ).fetchall()
    finally:
        con.close()
    assert rows
    ref_types = set(sq._ATTR_TYPE_TO_DB.values())
    ours = {r.guid: r for r in tables["attributes"].collect()}
    for guid, name, value, typ in rows:
        assert typ in ref_types
        payload = json.loads(value)
        assert payload["name"] == name
        mine = json.loads(ours[guid].value_json)
        payload.pop("name")
        assert payload == mine


def test_documents_pages_and_blobs(spark, setup):
    """documentmodel/pagemodel/pageobjectthroughmodel reproduce the
    lineage mapping with percent-encoded urls and real blobs."""
    tables, db = setup
    docs = corpus_df(spark, N_DOCS, partitions=4)
    blobs = {r.url: bytes(r.html) for r in docs.collect()}
    con = sqlite3.connect(db)
    try:
        stored = {
            urllib.parse.unquote(f): (m, bytes(b)) for f, m, b in con.execute(
                "SELECT fileName, mime, file FROM documentmodel"
            )
        }
        n_pages = con.execute("SELECT count(*) FROM pagemodel").fetchone()[0]
        n_throughs = con.execute(
            "SELECT count(*) FROM pageobjectthroughmodel"
        ).fetchone()[0]
        (configs_txt,) = con.execute(
            "SELECT configs FROM metadatamodel"
        ).fetchone()
    finally:
        con.close()
    lineage_urls = {r.url for r in tables["lineage"].select("url").distinct().collect()}
    assert set(stored) == lineage_urls
    for url, (mime, blob) in stored.items():
        assert blob == blobs[url]
        assert mime  # never empty
    assert n_pages == tables["lineage"].select("url", "page_no").distinct().count()
    assert n_throughs == tables["lineage"].count()
    # configs JSON = the reference AspectsConfig db representation
    cfg = sq.load_config_sqlite(db)
    from indu_doc_transformer_spark.config import DEFAULT_ASPECTS
    assert cfg == DEFAULT_ASPECTS
    assert json.loads(configs_txt)[0] == {"Separator": "=", "Aspect": "Functional"}


def test_max_rows_guard(spark, setup, tmp_path):
    """The bounded-sink contract is enforced loudly: a table exceeding
    max_rows raises (naming the table) instead of silently writing a
    corpus-scale sqlite file."""
    tables, _ = setup
    with pytest.raises(RuntimeError, match="max_rows.*parquet|exceeds max_rows"):
        sq.export_sqlite(tables, str(tmp_path / "guard.db"), max_rows=10)
    # the cap is tunable through the PUBLIC registry surface too (its
    # error message tells users to raise max_rows — that must work)
    from indu_doc_transformer_spark.operators import sinks

    with pytest.raises(RuntimeError, match="exceeds max_rows"):
        sinks.export_tables(tables, str(tmp_path / "guard2.db"),
                            format="sqlite", max_rows=10)


def test_registry_dispatch(spark, setup, tmp_path):
    """'sqlite' dispatches through the exporter registry."""
    from indu_doc_transformer_spark.operators import sinks

    tables, _ = setup
    assert "sqlite" in sinks.EXPORTERS
    db2 = str(tmp_path / "via_registry.db")
    sinks.export_tables(tables, db2, format="sqlite")
    con = sqlite3.connect(db2)
    try:
        n = con.execute("SELECT count(*) FROM xtargetmodel").fetchone()[0]
    finally:
        con.close()
    assert n == tables["xtargets"].count()
