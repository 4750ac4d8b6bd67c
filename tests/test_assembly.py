"""Distributed assembly vs the pure-Python God-factory oracle.

Every entity table produced by operators/assembly.py must be
set-identical to kernels/assemble.py (which encodes the reference's
factory semantics, pinned by golden GUID tests)."""

import pytest

from indu_doc_transformer_spark.kernels.assemble import assemble_documents
from indu_doc_transformer_spark.operators import assembly as asm_op
from indu_doc_transformer_spark.operators import extraction as ex
from indu_doc_transformer_spark.sources.corpus import corpus_df, generate_corpus

N_DOCS = 150


@pytest.fixture(scope="module")
def assembled(spark):
    """(the ten tables, assemble's cached frames)."""
    docs = corpus_df(spark, N_DOCS, partitions=8)
    extracted = ex.extract(docs, num_partitions=8)
    cache = []
    return asm_op.assemble(ex.rows_table(extracted), cache=cache), cache


@pytest.fixture(scope="module")
def tables(assembled):
    return assembled[0]


@pytest.fixture(scope="module")
def results(tables):
    collected = {k: v.collect() for k, v in tables.items()}
    oracle = assemble_documents(generate_corpus(N_DOCS))
    return collected, oracle


def _assert_no_python(name, df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, name
    assert "BatchEvalPython" not in plan, name


def test_entity_plans_evaluate_no_python(assembled):
    """Tags are parsed in SQL: none of the ten entity plans, none of
    assemble's cached frames (distinct_tags among them) and neither
    export.aspect_tree nor aml.aml_fragments holds a Python-eval node,
    so none of them starts a Python worker to parse a tag."""
    from indu_doc_transformer_spark.operators import aml, export
    from indu_doc_transformer_spark.plans.cache import temp_caches

    tables, cached = assembled
    assert len(tables) == 10
    for name, df in tables.items():
        _assert_no_python(name, df)
    assert any(set(df.columns) == {"tag", "at", "parts"} for df in cached)
    for i, df in enumerate(cached):
        _assert_no_python(f"cached {i}: {df.columns}", df)
    _assert_no_python("aspect_tree", export.aspect_tree(tables["xtargets"]))
    with temp_caches() as cache:
        _assert_no_python("aml_fragments", aml.aml_fragments(tables, cache=cache))


def test_xtargets_match(results):
    got, oracle = results
    g = {(r.guid, r.tag, r.target_type) for r in got["xtargets"]}
    e = {(x["guid"], x["tag"], x["target_type"]) for x in oracle.xtargets.values()}
    assert g == e
    assert len(g) > 50


def test_xtarget_aspects_match(results):
    """W3 sort_order relation vs the oracle's db.py:222-240 recast."""
    got, oracle = results
    g = {(r.xtarget_guid, r.aspect_guid, r.sort_order) for r in got["xtarget_aspects"]}
    assert g == oracle.xtarget_aspects()
    assert len(g) > 100


def test_aspects_match(results):
    got, oracle = results
    g = {(r.guid, r.separator, r.value) for r in got["aspects"]}
    e = {(a["guid"], a["separator"], a["value"]) for a in oracle.aspects.values()}
    assert g == e


def test_connections_match(results):
    got, oracle = results
    g = {(r.guid, r.src_guid, r.dst_guid, r.through_guid) for r in got["connections"]}
    e = {
        (c["guid"], c["src_guid"], c["dst_guid"], c["through_guid"])
        for c in oracle.connections.values()
    }
    assert g == e
    assert len(g) > 50


def test_links_match(results):
    got, oracle = results
    g = {
        (r.guid, r.name, r.connection_guid, r.src_pin_name, r.dest_pin_name)
        for r in got["links"]
    }
    e = {
        (l["guid"], l["name"], l["connection_guid"], l["src_pin_name"], l["dest_pin_name"])
        for l in oracle.links.values()
    }
    assert g == e


def test_pins_match(results):
    got, oracle = results
    g = {(r.guid, r.name, r.role, r.child_guid, r.link_guid) for r in got["pins"]}
    e = {
        (p["guid"], p["name"], p["role"], p["child_guid"], p["link_guid"])
        for p in oracle.pins.values()
    }
    assert g == e


def test_attributes_match(results):
    got, oracle = results
    g = {(r.guid, r.name, r.type, r.value_json) for r in got["attributes"]}
    e = {
        (a["guid"], a["name"], a["type"], a["value_json"])
        for a in oracle.attributes.values()
    }
    assert g == e


def test_object_attributes_match(results):
    got, oracle = results
    g = {(r.object_guid, r.attribute_guid) for r in got["object_attributes"]}
    assert g == oracle.object_attrs


def test_lineage_match(results):
    got, oracle = results
    g = {(r.url, r.page_no, r.object_guid, r.object_type) for r in got["lineage"]}
    assert g == oracle.lineage


def test_errors_match(results):
    got, oracle = results
    g = sorted((r.url, r.page_no, r.severity, r.message) for r in got["errors"])
    e = sorted(oracle.errors)
    assert g == e


def test_invalid_tag_path_parity(spark):
    """Docs 500-560 include garbage tags under no-tag footers: the
    'Tag is invalid' warning + unparseable-tag xtarget creation
    (god.py:288-299) must match the oracle."""
    from pyspark.sql import Row

    from indu_doc_transformer_spark.kernels.assemble import Assembly
    from indu_doc_transformer_spark.kernels.layout import extract_document
    from indu_doc_transformer_spark.sources.corpus import CORPUS_SCHEMA, generate_doc

    docs = [generate_doc(i) for i in range(500, 560)]
    sdf = spark.createDataFrame([Row(**d) for d in docs], schema=CORPUS_SCHEMA)
    tables = asm_op.assemble(ex.rows_table(ex.extract(sdf, 4)))

    oracle = Assembly()
    for d in docs:
        r = extract_document(d["html"])
        if r["rows"]:
            for row in r["rows"]:
                oracle.process_row(
                    d["url"], 1, r["page_type"], r["footer"]["tags"], row
                )

    g_err = sorted((r.url, r.severity, r.message) for r in tables["errors"].collect())
    e_err = sorted((u, s, m) for (u, p, s, m) in oracle.errors)
    assert g_err == e_err
    assert any("Tag is invalid" in m for (_, _, m) in g_err)

    g_x = {(r.guid, r.tag, r.target_type) for r in tables["xtargets"].collect()}
    e_x = {(x["guid"], x["tag"], x["target_type"]) for x in oracle.xtargets.values()}
    assert g_x == e_x


def _request_rows(spark):
    return ex.rows_table(ex.extract(corpus_df(spark, 8, partitions=2), num_partitions=2))


def test_cold_request_build_py4j_round_trips(spark, monkeypatch):
    """The nine request branches are SQL text built in Python and sent
    to the JVM as one spark.sql statement, so a cold requests_table
    build (fresh Assembler subclass, nothing warmed) stays within 100
    py4j round trips."""
    from py4j.java_gateway import GatewayClient

    class FreshAssembler(asm_op.Assembler):
        pass

    rows = _request_rows(spark)
    assembler = FreshAssembler()
    calls = 0
    original = GatewayClient.send_command

    def counting(client, *args, **kwargs):
        nonlocal calls
        calls += 1
        return original(client, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    assembler.requests_table(rows)
    monkeypatch.undo()
    assert 0 < calls <= 100


def test_request_build_rule_runs(spark):
    """Analyzing one statement instead of ~80 chained DataFrames: a
    requests_table build plus its optimization runs at most 5,000
    Catalyst rules (RuleExecutor metrics)."""
    rows = _request_rows(spark)
    rules = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
    rules.resetMetrics()
    asm_op.Assembler().requests_table(rows)._jdf.queryExecution().optimizedPlan()
    assert 0 < rules.getCurrentMetrics().numRuns() <= 5000


def test_request_text_braces_stay_literal(spark):
    """spark.sql formats the request statement: a brace in the built
    text stays a brace and never becomes a placeholder."""

    class Braced(asm_op.Assembler):
        def _branch_exprs(self, page_type):
            return [], "array(named_struct('kind', '{rows} {}'))"

    rows = spark.createDataFrame(
        [("u", 1, "topology", [])],
        "url string, page_no int, page_type string, footer_tags array<string>",
    )
    assert [r.kind for r in Braced().requests_table(rows).collect()] == ["{rows} {}"]


def test_cold_finisher_build_py4j_round_trips(spark, monkeypatch):
    """The finisher frames are SQL text too: a cold ``finish`` (fresh
    Assembler subclass, nothing warmed) stays within 1,000 py4j round
    trips and submits no Spark job; its caches are lazy."""
    import gc

    from py4j.java_gateway import GatewayClient

    from indu_doc_transformer_spark.plans.cache import temp_caches

    class FreshAssembler(asm_op.Assembler):
        pass

    reqs = asm_op.Assembler().requests_table(_request_rows(spark))
    assembler = FreshAssembler()
    sc = spark.sparkContext
    calls = 0
    original = GatewayClient.send_command

    def counting(client, *args, **kwargs):
        nonlocal calls
        calls += 1
        return original(client, *args, **kwargs)

    gc.collect()
    sc.setJobGroup("cold-finisher-build", "finish")
    try:
        with temp_caches() as cache:
            monkeypatch.setattr(GatewayClient, "send_command", counting)
            tables = assembler.finish(reqs, cache=cache)
            monkeypatch.undo()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert len(tables) == 10
    assert 0 < calls <= 1000
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("cold-finisher-build")) == []


def test_sql_guid_templates_match_kernel(spark):
    """sql_xtarget_guid / sql_aspect_guid / sql_connection_guid /
    sql_link_guid equal kernels/tagparse.py wherever the kernel accepts
    the input (it has no NULL tag), pin names holding line breaks
    included; a NULL tag or separator gives a NULL GUID."""
    from pyspark.sql import functions as F

    from indu_doc_transformer_spark.functions import guids as G
    from indu_doc_transformer_spark.kernels import tagparse as tp

    g1, g2 = tp.xtarget_guid("=F1+L1-X1"), tp.xtarget_guid("Grüße ✓")
    cases = [
        # (tag, sep, value, src_guid, dst_guid, through_guid, name, src_pin, dst_pin)
        ("=F1+L1-X1", "+", "L1", g1, g2, g1, "W1", ":1", ":2"),
        ("", "", "", None, None, None, "", "", None),
        (":", ":", ":", g1, None, g2, ":", ":", "::"),
        ("Grüße ✓ 日本", "=", "Ω3", None, g2, None, "Kabel ✓", ":Ä1:ü2", ":日"),
        ("a\nb", "-", "x\ny", g2, g1, None, "virtual_link", ":a\nb", ":c\rd"),
        (None, None, "v", g1, g2, None, "n", None, ":p"),
    ]
    cols = "tag, sep, value, src, dst, thr, name, sp, dp"
    df = spark.createDataFrame(cases, ", ".join(f"{c} string" for c in cols.split(", ")))
    got = df.select(
        F.expr(G.sql_xtarget_guid("tag")).alias("x_sql"),
        F.expr(G.sql_aspect_guid("sep", "value")).alias("a_sql"),
        F.expr(G.sql_connection_guid("src", "dst", "thr")).alias("c_sql"),
        F.expr(G.sql_link_guid("name", "sp", "dp", "src")).alias("l_sql"),
    ).collect()
    assert len(got) == len(cases)

    for (tag, sep, value, src, dst, thr, name, sp, dp), r in zip(cases, got):
        assert r.x_sql == (None if tag is None else tp.xtarget_guid(tag))
        assert r.a_sql == (None if sep is None else tp.aspect_guid(sep, value))
        assert r.c_sql == tp.connection_guid(src, dst, thr)
        assert r.l_sql == tp.link_guid(name, sp, dp, src)
    assert got[4].l_sql == tp.link_guid("virtual_link", ":a\nb", ":c\rd", g2)


def test_top_pin_is_chain_head(spark):
    """sql_top_pin (the head pin that aml, search and sqlite_sink all
    export) is, for every link and role of the assembled 8-page
    fixture, the pin of that link and role that no other pin names as
    its child: the anti-join over the pins table, kept here as the
    reference. A pin column with no chain gives NULL, as the anti-join
    does."""
    from pyspark.sql import functions as F

    from indu_doc_transformer_spark.functions import guids as G

    tables = asm_op.assemble(_request_rows(spark))
    pins = tables["pins"]
    children = pins.where(F.col("child_guid").isNotNull()).select(
        F.col("child_guid").alias("guid"), "link_guid", "role"
    )
    want = {
        (r.link_guid, r.role, r.guid)
        for r in pins.join(children, ["guid", "link_guid", "role"], "left_anti").collect()
    }
    got = set()
    for r in tables["links"].select(
        "guid",
        F.expr(G.sql_top_pin("src_pin_name", "src", "guid"))["guid"].alias("src"),
        F.expr(G.sql_top_pin("dest_pin_name", "dst", "guid"))["guid"].alias("dst"),
    ).collect():
        got |= {(r.guid, "src", r.src), (r.guid, "dst", r.dst)}
    assert got == want
    assert len(got) >= 4
    # a pin column with no chain has no head pin
    none = spark.createDataFrame([("X", "g"), (None, "g")], "p string, guid string")
    heads = none.select(F.expr(G.sql_top_pin("p", "src", "guid")).alias("h")).collect()
    assert [r.h for r in heads] == [None, None]


def test_quoting_hostile_attributes_match_oracle(spark):
    """Attribute keys and values holding SQL/JSON metacharacters ('
    \\ ` newline) and non-ASCII text pass through the request layer as
    data: device_tag_list, topology and terminal_diagram rows must give
    the oracle's entity sets."""
    from indu_doc_transformer_spark.config import DEFAULT_ASPECTS
    from indu_doc_transformer_spark.kernels.assemble import Assembly
    from indu_doc_transformer_spark.kernels.layout import (
        _COMPLETE_COLUMNS, _complete_cell, _completed_key,
    )
    from indu_doc_transformer_spark.kernels.tagparse import footer_parts

    hostile = ["it's", "back\\slash", "tick`tock", "line\nbreak", "Grüße ✓ 日本", "') OR ('1"]

    def attrs(prefix=""):
        return {prefix + k: f"  {v}{i}  " for i, (k, v) in
                enumerate(zip(hostile, reversed(hostile)))}

    footer = ["=F1", "+L1"]
    pages = [
        ("device_tag_list", [{"tag": "-K1", **attrs()}, {"tag": "-K'2", "x": "ü\\'"},
                             {"tag": "", **attrs()}]),
        ("topology", [{"designation": "-W1", "src_tags": "-M1;-M2", "dst_tags": "-K1",
                       "route": "R`2;R'1;Ω3", **attrs()}]),
        ("terminal_diagram", [{
            "_1cable_tag": "-W2", "_1src_tag": "-X1", "_1src_pin": "1", "_1dst_tag": "-K1",
            "_1dst_pin": "A'1", "_2cable_tag": "-W3", "_2src_tag": "-X2", "_2src_pin": "2",
            "_2dst_tag": "-K2", "_2dst_pin": "Ä2", **attrs("_1"), "shared`key": "v\\\n'",
        }]),
    ]
    fparts = footer_parts(footer, DEFAULT_ASPECTS)
    data, oracle = [], Assembly()
    for page_no, (page_type, rows) in enumerate(pages, start=1):
        for idx, cols in enumerate(rows):
            for cc in _COMPLETE_COLUMNS[page_type]:
                if cc in cols:
                    cols[_completed_key(cc)] = _complete_cell(
                        cols[cc], fparts, DEFAULT_ASPECTS, {}
                    )
            loc_repr = repr((1.0, 2.0, float(idx), 4.0)) if idx % 2 == 0 else None
            row = {"row_idx": idx, "cols": cols, "loc_repr": loc_repr}
            data.append(("doc'1", page_no, page_type, footer, idx, cols, loc_repr))
            oracle.process_row("doc'1", page_no, page_type, footer, row)
    rows = spark.createDataFrame(
        data,
        "url string, page_no int, page_type string, footer_tags array<string>, "
        "row_idx int, cols map<string,string>, loc_repr string",
    )
    got = {k: v.collect() for k, v in asm_op.assemble(rows).items()}

    g = {(r.guid, r.name, r.type, r.value_json) for r in got["attributes"]}
    e = {(a["guid"], a["name"], a["type"], a["value_json"]) for a in oracle.attributes.values()}
    assert g == e
    assert {"SIMPLE", "ROUTING_TRACKS", "PDF_LOCATION"} <= {a[2] for a in g}
    assert set(hostile) <= {a[1] for a in g}
    assert {(r.object_guid, r.attribute_guid) for r in got["object_attributes"]} == (
        oracle.object_attrs
    )
    assert {(r.guid, r.tag, r.target_type) for r in got["xtargets"]} == {
        (x["guid"], x["tag"], x["target_type"]) for x in oracle.xtargets.values()
    }
    assert {(r.guid, r.name, r.connection_guid, r.src_pin_name, r.dest_pin_name)
            for r in got["links"]} == {
        (l["guid"], l["name"], l["connection_guid"], l["src_pin_name"], l["dest_pin_name"])
        for l in oracle.links.values()
    }
    assert {(r.url, r.page_no, r.object_guid, r.object_type) for r in got["lineage"]} == (
        oracle.lineage
    )
    assert sorted(tuple(r) for r in got["errors"]) == sorted(oracle.errors)
