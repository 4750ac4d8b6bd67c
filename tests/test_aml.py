"""Full AML export: structural parity with the reference AMLBuilder
(/root/reference/tests/test_aml_builder.py is the model; the GUID
accumulation formulas are re-derived independently here and asserted
against the produced XML)."""

import hashlib
import json
import uuid
import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import functions as F

from indu_doc_transformer_spark.config import DEFAULT_ASPECTS
from indu_doc_transformer_spark.kernels.tagparse import tag_parts
from indu_doc_transformer_spark.operators import aml


def ref_guid(unq: dict) -> str:
    """The reference's _create_guid (aml_abstractions.py:103-113),
    written independently for the assertion."""
    return str(
        uuid.UUID(bytes=hashlib.md5(json.dumps(unq, sort_keys=True).encode()).digest())
    )


@pytest.fixture(scope="module")
def tables(spark):
    from indu_doc_transformer_spark.operators import assembly as asm_op
    from indu_doc_transformer_spark.operators import extraction as ex
    from indu_doc_transformer_spark.sources.corpus import corpus_df

    extracted = ex.extract(corpus_df(spark, 120, partitions=4), num_partitions=4)
    t = asm_op.assemble(ex.rows_table(extracted))
    # localCheckpoint, not persist: a persisted table keeps the whole
    # assembly plan, and every plan that reads it would print it again
    return {k: v.localCheckpoint() for k, v in t.items()}


@pytest.fixture(scope="module")
def fragments(spark, tables):
    return aml.aml_fragments(tables).persist()


def test_full_file_well_formed(spark, tables, fragments):
    doc = aml.aml_file_xml(fragments)
    root = ET.fromstring(doc)
    assert root.tag.endswith("CAEXFile")
    names = [h.get("Name") for h in root if h.tag.endswith("InstanceHierarchy")]
    # ECAD first, then one tree per distinct aspect type in config order
    assert names[0] == "ECAD"
    expect = []
    for l in DEFAULT_ASPECTS.levels:
        cap = l.aspect.lower().capitalize()
        if cap not in expect:
            expect.append(cap)
    assert names[1:] == expect


def test_every_parseable_target_serialized_once(spark, tables, fragments):
    doc = aml.aml_file_xml(fragments)
    root = ET.fromstring(doc)
    ecad = next(h for h in root if h.get("Name") == "ECAD")
    promoted = {
        el.get("ID")
        for el in ecad.iter()
        if el.tag.endswith("InternalElement")
        and any(
            (a.get("Name") or "").endswith("OrientedReferenceDesignation")
            for a in el
            if a.tag.endswith("Attribute")
        )
    }
    expected = {
        r.guid
        for r in tables["xtargets"].collect()
        if tag_parts(r.tag, DEFAULT_ASPECTS)
    }
    assert promoted == expected and promoted
    # driver-facing counts agree
    n = sum(r.n_targets for r in fragments.collect())
    assert n == len(expected)


def test_aspect_guid_accumulation_and_salting(spark, fragments):
    """InternalAspect ID = salt(accumulate(prefix,name,base), tree)
    (aml_builder.py:124-145); same node in two trees differs only by
    salt; diamondID is the content GUID in both."""
    ecad = [r for r in fragments.collect() if r.hierarchy == "ECAD" and r.section == 0]
    assert ecad
    r = ecad[0]
    frag = ET.fromstring(f"<x>{r.xml}</x>")

    # a promoted xtarget overrides its element ID, so the chain is
    # verified on pure aspect nodes; promoted nodes still feed their
    # (salted) aspect id to deeper children
    def walk(el, base_id, bmk):
        for child in el:
            if not child.tag.endswith("InternalElement"):
                continue
            name = child.get("Name")
            prefix = None
            bmk_attr = None
            for a in child:
                if a.tag.endswith("Attribute") and a.get("Name") == "Prefix":
                    prefix = a.find("Value").text
                if a.tag.endswith("Attribute") and a.get("Name") == "BMK":
                    bmk_attr = a.find("Value").text or ""
            if prefix is None:
                continue
            my_bmk = bmk + prefix + (name or "")
            assert bmk_attr == my_bmk, (bmk_attr, my_bmk)
            raw = ref_guid({"prefix": prefix, "name": name or "", "base": base_id})
            salted = ref_guid({"base": raw, "salt": "ECAD"})
            promoted = any(
                (a.get("Name") or "").endswith("OrientedReferenceDesignation")
                for a in child
                if a.tag.endswith("Attribute")
            )
            if not promoted:
                assert child.get("ID") == salted, (child.get("ID"), salted, my_bmk)
            walk(child, salted, my_bmk)

    walk(frag, "", "")


def test_same_aspect_different_tree_different_id(spark, fragments):
    frs = fragments.collect()
    ecad_roots = {
        r.root: ET.fromstring(f"<x>{r.xml}</x>")
        for r in frs
        if r.hierarchy == "ECAD" and r.section == 0
    }
    other = [r for r in frs if r.hierarchy != "ECAD" and r.root in ecad_roots]
    assert other
    r = other[0]
    o = ET.fromstring(f"<x>{r.xml}</x>")[0]
    e = ecad_roots[r.root][0]
    assert o.get("ID") != e.get("ID")
    # diamond id (content GUID) matches
    od = next(c for c in o if c.tag.endswith("SourceObjectInformation"))
    ed = next(c for c in e if c.tag.endswith("SourceObjectInformation"))
    assert od.get("SourceObjID") == ed.get("SourceObjID")


def test_connection_and_pin_elements(spark, tables, fragments):
    """InternalConnection on the through target, InternalPin on the
    endpoints, one SideA/SideB + ConnectionPoint interface each
    (aml_builder.py:32-100,336-359)."""
    cn = tables["connections"].select(
        F.col("guid").alias("connection_guid"), "src_guid", "dst_guid", "through_guid"
    )
    le = tables["links"].join(cn, "connection_guid").collect()
    exp_conns = sum(1 for l in le if l.through_guid is not None)
    exp_pins = sum(1 for l in le if l.src_guid is not None) + sum(
        1 for l in le if l.dst_guid is not None
    )
    frs = fragments.collect()
    got_conns = sum(r.n_connections for r in frs)
    got_pins = sum(r.n_pins for r in frs)
    # payload owners must exist as serialized targets: owners with an
    # unparseable tag (no tree path) drop their payloads, like the
    # reference's never-serialized targets
    assert 0 < got_conns <= exp_conns
    assert 0 < got_pins <= exp_pins

    doc = aml.aml_file_xml(fragments)
    root = ET.fromstring(doc)
    conn_els = [
        el
        for el in root.iter()
        if el.tag.endswith("InternalElement")
        and (el.get("Name") or "").startswith("Connection ")
    ]
    assert len(conn_els) == got_conns
    for el in conn_els[:5]:
        ifaces = [c.get("Name") for c in el if c.tag.endswith("ExternalInterface")]
        assert ifaces == ["SideA", "SideB"]
    pin_els = [
        el
        for el in root.iter()
        if el.tag.endswith("InternalElement")
        and (el.get("Name") or "").startswith("ConnPoint ")
    ]
    assert len(pin_els) == got_pins


def test_internal_links_wiring(spark, tables, fragments):
    """src_pin -> SideA, SideB -> dst_pin through a cable; direct
    src_pin -> dst_pin otherwise (aml_builder.py:361-376)."""
    cn = tables["connections"].select(
        F.col("guid").alias("connection_guid"), "through_guid"
    )
    le = tables["links"].join(cn, "connection_guid").collect()
    expected = sum(2 if l.through_guid is not None else 1 for l in le)
    il = aml.internal_links(tables).collect()
    assert len(il) == expected
    assert sum(r.n_links for r in fragments.collect()) == expected
    sides = {r.ref_a for r in il} | {r.ref_b for r in il}
    assert any(s.endswith(":ConnectionPoint") for s in sides)
    if any(l.through_guid is not None for l in le):
        assert any(s.endswith(":SideA") for s in sides)
        assert any(s.endswith(":SideB") for s in sides)


def test_salted_ids_unique_across_document(spark, fragments):
    doc = aml.aml_file_xml(fragments)
    root = ET.fromstring(doc)
    ids = [el.get("ID") for el in root.iter() if el.get("ID")]
    # ExternalInterface ids embed their owner's id; uniqueness holds
    # per element kind (the reference warns on global collisions, which
    # happen there too for repeated pins)
    aspect_ids = [
        el.get("ID")
        for el in root.iter()
        if el.tag.endswith("InternalElement")
        and any(
            a.get("Name") == "Prefix" for a in el if a.tag.endswith("Attribute")
        )
    ]
    assert len(aspect_ids) == len(set(aspect_ids))
    assert ids


def test_distributed_fragment_write_and_stitch(spark, fragments, tmp_path):
    """100-TB export path: fragments written partitioned by hierarchy
    with an index table (no driver collect in the write), and the
    stitcher gives the same bytes over the written table as over the
    in-memory fragments."""
    out = str(tmp_path / "aml_out")
    aml.write_aml_fragments(fragments, out)

    frag = spark.read.parquet(out + "/aml_fragments")
    assert frag.count() == fragments.count()
    # hierarchy is a physical partition column of the written table
    assert any("hierarchy=" in str(p) for p in (tmp_path / "aml_out" / "aml_fragments").iterdir())

    idx = spark.read.parquet(out + "/aml_index").collect()
    by_h = {}
    for r in idx:
        assert r.h_order is not None  # every hierarchy has a stitch position
        by_h.setdefault(r.hierarchy, 0)
        by_h[r.hierarchy] += r.n_fragments
    from collections import Counter

    want = Counter(
        r.hierarchy for r in fragments.select("hierarchy").collect()
    )
    assert by_h == dict(want)
    # index totals match the fragment content stats
    assert sum(r.n_targets for r in idx) == sum(
        r.n_targets for r in fragments.select("n_targets").collect()
    )

    # one stitcher over two sources: the written table read back and
    # the persisted in-memory fragments give the same document
    stitched = aml.aml_file_xml(frag)
    assert stitched == aml.aml_file_xml(fragments)

    # streamed-to-file form: same bytes, returned md5 matches, and the
    # string form is just a StringIO sink over the same stitcher
    import hashlib

    dst = tmp_path / "export.aml"
    digest = aml.stitch_aml_to(frag, str(dst))
    assert dst.read_text(encoding="utf-8") == stitched
    assert digest == hashlib.md5(stitched.encode("utf-8")).hexdigest()


def test_aml_export_releases_session_state(spark, tables, tmp_path):
    """``export_tables(format="aml")`` releases the persisted target
    join of ``aml_fragments`` once the export is written: the call
    adds no persistent RDD and leaves the CacheManager empty."""
    from indu_doc_transformer_spark.operators import sinks

    jsc = spark.sparkContext._jsc
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    before = set(jsc.getPersistentRDDs().keySet())
    sinks.export_tables(tables, str(tmp_path / "aml"), format="aml")
    # other tests' RDDs may be unpersisted by the ContextCleaner at any
    # time, so only the ids the call adds are checked
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    assert cache_manager.isEmpty()
    assert spark.read.parquet(str(tmp_path / "aml" / "aml_index")).count() > 0
