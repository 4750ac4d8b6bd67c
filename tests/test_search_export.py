"""Search-query compiler (generic path walk) + exporters over a small
assembled corpus. Mirrors /root/reference/tests/test_searcher.py and
tests/test_lark_parser.py semantics."""

import pytest
from pyspark.sql import functions as F

from indu_doc_transformer_spark.operators import export as ex_op
from indu_doc_transformer_spark.operators import search as s_op
from indu_doc_transformer_spark.operators.search import run_parser
from token_cases import TOKEN_CASES


class TestParser:
    def test_tag_only(self):
        tag, fs = run_parser("=DEV")
        assert tag == "=DEV" and fs == []

    def test_tag_and_filters(self):
        tag, fs = run_parser("=F1+L1 @attributes(Color)=red @type=device")
        assert tag == "=F1+L1"
        assert fs[0].dotted_path == ["attributes"]
        assert fs[0].dotted_param == "Color" and fs[0].value == "red"
        assert fs[1].dotted_path == ["type"] and fs[1].value == "device"

    def test_dotted_path(self):
        _, fs = run_parser("@links.attributes(color)=red")
        assert fs[0].dotted_path == ["links", "attributes"]
        assert fs[0].dotted_param == "color"

    def test_no_value(self):
        _, fs = run_parser("@attributes(Color)")
        assert fs[0].value is None

    def test_last_component_becomes_param(self):
        """lark_parser.py:118-138: no '(param)' -> last dotted component
        is the param."""
        _, fs = run_parser("@src.tag=E+A1-x")
        assert fs[0].dotted_path == ["src"]
        assert fs[0].dotted_param == "tag"
        assert fs[0].value == "E+A1-x"
        _, fs = run_parser("@level1.level2.level3.level4=value")
        assert fs[0].dotted_path == ["level1", "level2", "level3"]
        assert fs[0].dotted_param == "level4"

    def test_reference_parser_battery(self):
        """Ports the behavioral cases from
        /root/reference/tests/test_lark_parser.py."""
        tag, fs = run_parser("=E+A1 @guid")
        assert tag == "=E+A1" and fs[0].dotted_path == ["guid"]
        assert fs[0].dotted_param is None and fs[0].value is None

        _, fs = run_parser("@formula=a=b+c")
        assert fs[0].value == "a=b+c"

        _, fs = run_parser("@links.attributes(wire strong 2)= rew ks")
        assert fs[0].dotted_param == "wire strong 2"
        assert fs[0].value == "rew ks"

        _, fs = run_parser("@desc=hello   world")
        assert fs[0].value == "hello   world"

        _, fs = run_parser("@page=4 @guid=abc @src=E1")
        assert [f.dotted_path for f in fs] == [["page"], ["guid"], ["src"]]
        assert [f.value for f in fs] == ["4", "abc", "E1"]

        tag, fs = run_parser(
            "=E+A1-x @src.tag==E+A1-x @links.part-number=LLAP @page=4 @links.srcpin=43"
        )
        assert tag == "=E+A1-x" and len(fs) == 4
        assert fs[0].dotted_path == ["src"] and fs[0].dotted_param == "tag"
        assert fs[0].value == "=E+A1-x"
        assert fs[1].dotted_path == ["links"] and fs[1].dotted_param == "part-number"

        tag, fs = run_parser("   \n  \t  ")
        assert tag is None and fs == []

        _, fs = run_parser("@a @b @c")
        assert len(fs) == 3

    def test_parenthesized_value(self):
        """lark_parser.py:54 value := '(' VALUE_TEXT? ')'."""
        _, fs = run_parser("@tag=(=E+A1)")
        assert fs[0].value == "=E+A1"
        _, fs = run_parser("@guid=()")
        assert fs[0].value == ""

    def test_empty_value_strips(self):
        _, fs = run_parser("@guid=\n")
        assert fs[0].value == ""


def test_search_literal_normalization_matches_column(spark):
    """A query literal is normalized as the column it is compared with:
    _norm_lit(text) equals Spark norm_text(lit(text)) for every
    non-NULL shared token case, U+00A0, U+3000 and U+001C included
    (str.strip()/str.split() would drop them)."""
    from indu_doc_transformer_spark.operators.textstats import norm_text

    texts = [t for t, _, _ in TOKEN_CASES if t is not None]
    got = spark.range(1).select(
        *[norm_text(F.lit(t)).alias(f"c{i}") for i, t in enumerate(texts)]
    ).first()
    for i, t in enumerate(texts):
        assert s_op._norm_lit(t) == got[f"c{i}"], repr(t)


@pytest.fixture(scope="module")
def tables(spark):
    from indu_doc_transformer_spark.operators import assembly as asm_op
    from indu_doc_transformer_spark.operators import extraction as ex
    from indu_doc_transformer_spark.sources.corpus import corpus_df

    extracted = ex.extract(corpus_df(spark, 120, partitions=4), num_partitions=4)
    return asm_op.assemble(ex.rows_table(extracted))


@pytest.fixture(scope="module")
def tidx(spark, tables):
    return s_op.build_target_index(tables).persist()


@pytest.fixture(scope="module")
def cidx(spark, tables):
    return s_op.build_connection_index(tables).persist()


def test_search_targets_by_tag_substring(spark, tidx):
    all_targets = {r.guid: r for r in tidx.collect()}
    got = {r.guid for r in s_op.search_targets(tidx, "=F1").collect()}
    expect = {g for g, r in all_targets.items() if "=f1" in r.tag.lower()}
    assert got == expect and got


def test_search_targets_by_type_and_attribute(spark, tidx):
    rows = tidx.collect()
    got = {r.guid for r in s_op.search_targets(tidx, "@type=cable").collect()}
    expect = {r.guid for r in rows if "cable" in r.type}
    assert got == expect and got

    got2 = {
        r.guid
        for r in s_op.search_targets(tidx, "@attributes(Manufacturer)=acme").collect()
    }
    expect2 = {
        r.guid
        for r in rows
        if "acme" in (r.attributes or {}).get("manufacturer", "")
    }
    assert got2 == expect2 and got2


def test_search_targets_arbitrary_path_no_whitelist(spark, tidx):
    """Any schema field resolves via the generic walk: a path into the
    attributes map by key (no param syntax) must also work
    (searcher.py:211-227 dict step)."""
    rows = tidx.collect()
    got = {r.guid for r in s_op.search_targets(tidx, "@attributes.manufacturer=acme").collect()}
    expect = {
        r.guid for r in rows if "acme" in (r.attributes or {}).get("manufacturer", "")
    }
    assert got == expect and got
    # unknown field -> matches nothing
    assert s_op.search_targets(tidx, "@nosuchfield=x").count() == 0


def test_search_null_leaf_matches_like_python_none(spark):
    """_check_path_match parity for present-but-null leaves: a present
    map key with a None value is matchable — bare existence passes and
    a value filter compares against str(None) -> 'none'; only a MISSING
    key fails (ADVICE round 2). Container leaves render with Python
    repr (single quotes), not JSON."""
    idx = spark.createDataFrame(
        [
            ("g1", "=a", {"color": None}, ("v1", None)),
            ("g2", "=b", {"size": "10"}, ("v2", "red")),
            ("g3", "=c", None, None),
        ],
        "guid string, tag string, attributes map<string,string>, "
        "meta struct<k:string, hue:string>",
    )
    # bare existence of a null-valued key
    assert {r.guid for r in s_op.search_targets(idx, "@attributes.color").collect()} == {"g1"}
    assert {r.guid for r in s_op.search_targets(idx, "@attributes(color)").collect()} == {"g1"}
    # value filter against the null leaf: str(None) -> 'none'
    assert {r.guid for r in s_op.search_targets(idx, "@attributes(color)=none").collect()} == {"g1"}
    assert {r.guid for r in s_op.search_targets(idx, "@attributes.color=none").collect()} == {"g1"}
    # struct field null: param filter matches 'none'; null struct fails
    assert {r.guid for r in s_op.search_targets(idx, "@meta(hue)=none").collect()} == {"g1"}
    assert {r.guid for r in s_op.search_targets(idx, "@meta(hue)=red").collect()} == {"g2"}
    # whole-container value match uses Python repr: single quotes
    assert {r.guid for r in s_op.search_targets(idx, "@attributes='10'").collect()} == {"g2"}
    # nested None renders unquoted like Python repr; a null container
    # itself stringifies to 'None' (str(None)) — both match 'none'
    assert {r.guid for r in s_op.search_targets(idx, "@meta=none").collect()} == {"g1", "g3"}
    # a NULL struct renders as exactly 'None' — a value filter naming a
    # field matches non-null structs (their dict repr contains the key
    # name, like str({'k':..,'hue':..})) but NOT the null struct g3
    assert {r.guid for r in s_op.search_targets(idx, "@meta=hue").collect()} == {"g1", "g2"}
    assert {r.guid for r in s_op.search_targets(idx, "@meta='v1'").collect()} == {"g1"}


def test_search_connections(spark, cidx):
    rows = cidx.collect()
    got = {r.guid for r in s_op.search_connections(cidx, "@src=-x").collect()}
    expect = {r.guid for r in rows if "-x" in r.src.lower()}
    assert got == expect and got

    got2 = {
        r.guid
        for r in s_op.search_connections(cidx, "@links.attributes(Color)").collect()
    }
    expect2 = {
        r.guid for r in rows if any("color" in (l.attributes or {}) for l in r.links)
    }
    assert got2 == expect2


def test_search_connections_nested_target_path(spark, cidx):
    """@src_target.tag walks into the nested to_dict struct; a null
    src_target fails the step (searcher.py:215-227)."""
    rows = cidx.collect()
    got = {
        r.guid
        for r in s_op.search_connections(cidx, "@src_target.tag=-x").collect()
    }
    expect = {
        r.guid
        for r in rows
        if r.src_target is not None and "-x" in (r.src_target.tag or "")
    }
    assert got == expect and got

    # pins: list-any over links, struct step into src_pin
    got2 = {
        r.guid for r in s_op.search_connections(cidx, "@links.src_pin(role)=src").collect()
    }
    expect2 = {r.guid for r in rows if r.links}
    assert got2 == expect2


def test_guide_trees(spark, tidx, cidx):
    t = s_op.target_search_guide_tree(tidx)
    assert t["tag"]["__filters__"] == {"@tag"}
    assert "manufacturer" in t["attributes"]
    assert t["attributes"]["manufacturer"]["__filters__"] == {
        "@attributes(manufacturer)"
    }
    c = s_op.connection_search_guide_tree(cidx)
    assert "[list items]" in c["links"]
    lb = c["links"]["[list items]"]
    assert "@links.src_pin(name)" in lb["src_pin"]["name"]["__filters__"]
    assert any(f.startswith("@links(") for f in lb["__filters__"])
    assert "tag" in c["src_target"]


def test_stats(spark, tables):
    st = {r.table: r.n for r in ex_op.stats(tables).collect()}
    assert st["xtargets"] == tables["xtargets"].count()
    assert set(st) == set(tables)


def test_exporter_registry(spark, tmp_path):
    """Exporter table (reference exporters/exporter.py:1-42 analog):
    dispatch by format name, parquet round-trip through the
    import-side reader, unknown-format error."""
    import pytest

    from indu_doc_transformer_spark.operators import sinks

    tables = {
        "xtargets": spark.createDataFrame(
            [("g1", "=A1", "device"), ("g2", "+B2", "strip")],
            "guid string, tag string, target_type string"),
        "errors": spark.createDataFrame(
            [("u", 1, "WARNING", "m")],
            "url string, page_no int, severity string, message string"),
    }
    assert {"json", "parquet", "aml"} <= set(sinks.EXPORTERS)

    out = str(tmp_path / "pq")
    sinks.export_tables(tables, out, format="parquet")
    back = sinks.read_entity_tables(spark, out, names=["xtargets", "errors", "absent"])
    assert set(back) == {"xtargets", "errors"}
    assert sorted(r.guid for r in back["xtargets"].collect()) == ["g1", "g2"]

    sinks.export_tables(tables, str(tmp_path / "js"), format="json")
    import glob
    assert glob.glob(str(tmp_path / "js" / "xtargets" / "part-*"))

    with pytest.raises(ValueError, match="Unsupported export format"):
        sinks.export_tables(tables, "/x", format="nope")

    # present-but-unreadable table must PROPAGATE, not report 'absent'
    # (ADVICE r5): a directory exists but holds no readable parquet.
    corrupt = tmp_path / "pq" / "broken"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        sinks.read_entity_tables(spark, out, names=["broken"])["broken"].collect()
