"""Property-based invariants for the round-2 components: the query
parser, the AML tree serializer and the totality of the HTML and WARC
ingestion surfaces (pure-Python parts — no Spark session needed)."""

import xml.etree.ElementTree as ET

from hypothesis import given, settings
from hypothesis import strategies as st

from indu_doc_transformer_spark.config import DEFAULT_ASPECTS
from indu_doc_transformer_spark.operators.aml import _serialize_group
from indu_doc_transformer_spark.operators.search import run_parser

# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

word = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789_-", min_size=1, max_size=6)
path = st.lists(word, min_size=1, max_size=4)
param = st.one_of(st.none(), st.text(alphabet="abc XYZ123", min_size=1, max_size=8))
val = st.one_of(st.none(), st.text(alphabet="abcXYZ123+=- ", min_size=1, max_size=8))


@given(path, param, val)
@settings(max_examples=200)
def test_parser_roundtrip(p, prm, v):
    """Rendering a filter back to query syntax and re-parsing yields
    the same Filter (modulo the implicit last-component-param rule)."""
    q = "@" + ".".join(p)
    if prm is not None:
        q += f"({prm})"
    if v is not None:
        q += "=" + v
    tag, fs = run_parser(q)
    assert tag is None and len(fs) == 1
    f = fs[0]
    if prm is not None:
        assert f.dotted_path == p and f.dotted_param == prm
    elif len(p) > 1:
        assert f.dotted_path == p[:-1] and f.dotted_param == p[-1]
    else:
        assert f.dotted_path == p and f.dotted_param is None
    expect_v = v.strip() if v is not None else None
    assert f.value == expect_v


@given(st.lists(path, min_size=1, max_size=4))
@settings(max_examples=100)
def test_parser_filter_count(paths):
    q = " ".join("@" + ".".join(p) for p in paths)
    _, fs = run_parser(q)
    assert len(fs) == len(paths)


# ---------------------------------------------------------------------------
# AML serializer (pure Python): composite tags, empty levels, counts
# ---------------------------------------------------------------------------


def _target(tag, guid, flat):
    return {
        "tag": tag,
        "guid": guid,
        "target_type": "device",
        "flat": [{"sep": s, "value": v} for s, v in flat],
        "attrs": [],
        "payloads": [],
    }


def test_aml_serializer_composite_and_empty_levels():
    """A composite tag (two values for the same separator) nests two
    levels; an empty level contributes an empty-named node; counts
    match the tree."""
    targets = [
        _target("=A=B-C", "g1", [("=", "A"), ("=", "B"), ("-", "C")]),
        _target("=A+-D", "g2", [("=", "A"), ("+", ""), ("-", "D")]),
    ]
    counts = {"n_targets": 0, "n_aspects": 0, "n_connections": 0, "n_pins": 0}
    xml = _serialize_group("ECAD", targets, {}, DEFAULT_ASPECTS, counts)
    root = ET.fromstring(f"<x>{xml}</x>")
    # nodes: =A, =B (under =A), -C (under =B), + (empty, under =A), -D
    assert counts["n_targets"] == 2
    assert counts["n_aspects"] == 5
    # the empty level serializes with an empty Name
    assert any(el.get("Name") == "" for el in root.iter() if el.tag == "InternalElement")
    # both target guids appear as IDs
    ids = {el.get("ID") for el in root.iter()}
    assert {"g1", "g2"} <= ids
    # BMK accumulates the full path
    bmks = {
        a.find("Value").text
        for el in root.iter()
        for a in el
        if a.tag == "Attribute" and a.get("Name") == "BMK"
    }
    assert "=A=B-C" in bmks and "=A+" in bmks


def test_aml_serializer_same_path_overwrite():
    """Two targets with the identical flat path: the later (sorted)
    one is promoted, the other is displaced (reference build_tree
    current.item = t)."""
    targets = [
        _target("=A", "g1", [("=", "A")]),
        _target("=A ", "g2", [("=", "A")]),  # same path, different tag
    ]
    counts = {"n_targets": 0, "n_aspects": 0, "n_connections": 0, "n_pins": 0}
    xml = _serialize_group("ECAD", targets, {}, DEFAULT_ASPECTS, counts)
    assert counts["n_targets"] == 1
    assert counts["n_aspects"] == 1
    root = ET.fromstring(f"<x>{xml}</x>")
    ids = {el.get("ID") for el in root.iter() if el.tag == "InternalElement"}
    assert len(ids) == 1


# ---------------------------------------------------------------------------
# totality fuzz (round 4): the ingestion surfaces must be TOTAL —
# arbitrary bytes yield well-formed results or counted skips, never
# exceptions (the E2/S3 rule that keeps tasks alive at 100 TB)
# ---------------------------------------------------------------------------


@given(st.binary(max_size=2048))
@settings(max_examples=300, deadline=None)
def test_extract_document_total_on_arbitrary_bytes(payload):
    from indu_doc_transformer_spark.kernels.layout import extract_document

    r = extract_document(payload)
    assert set(r) >= {"page_type", "footer", "extracted_text", "spans",
                      "rows", "errors"}
    assert isinstance(r["extracted_text"], str)
    assert all(isinstance(e, tuple) and len(e) == 2 for e in r["errors"])


@given(st.binary(max_size=4096))
@settings(max_examples=300, deadline=None)
def test_parse_warc_total_and_terminating(payload):
    """The WARC walker must terminate and never raise on garbage —
    including records whose Content-Length is negative (which would
    otherwise move the scan position backwards)."""
    from indu_doc_transformer_spark.sources.warc import parse_warc

    for rec in parse_warc(payload):
        assert rec.get("bad") or (
            isinstance(rec["url"], str) and isinstance(rec["html"], bytes)
        )


def test_parse_warc_negative_length_terminates():
    from indu_doc_transformer_spark.sources.warc import parse_warc

    raw = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: http://x/\r\nWARC-Date: 2020-01-01T00:00:00Z\r\n"
           b"Content-Length: -5\r\n\r\npayload\r\n\r\n")
    out = list(parse_warc(raw))
    assert out and out[0].get("bad")


@given(st.binary(max_size=4096), st.integers(min_value=1, max_value=97))
@settings(max_examples=200, deadline=None)
def test_warc_stream_chunking_invariant(payload, chunk):
    """Chunked streaming over ANY chunk size must equal the
    whole-buffer parse — the resumable core's compaction/boundary
    logic can't change what a record means."""
    from indu_doc_transformer_spark.sources.warc import (iter_warc_stream,
                                                         parse_warc)

    whole = list(parse_warc(payload, emit_skips=True))
    pieces = [payload[i:i + chunk] for i in range(0, len(payload), chunk)]
    assert list(iter_warc_stream(pieces, emit_skips=True)) == whole
