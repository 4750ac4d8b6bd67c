"""Tag parser + GUID kernels vs golden values captured from the
reference implementation (byte-identical parity gate).

Golden constants below were produced by running the reference classes
(/root/reference/src/indu_doc: tag.py, xtarget.py, connection.py,
attributes.py) on the same inputs.
"""

from indu_doc_transformer_spark.config import DEFAULT_ASPECTS, AspectsConfig
from indu_doc_transformer_spark.kernels import tagparse as tp

CFG = DEFAULT_ASPECTS
SEPS = tuple(CFG.separators)


class TestTryParseTag:
    def test_basic(self):
        assert tp.try_parse_tag("+A1-M2", SEPS) == {"+": ("A1",), "-": ("M2",)}

    def test_repeated_separators_multi_value(self):
        # tag.py:403-422 __main__ case
        assert tp.try_parse_tag("++A=M1=M2", SEPS) == {
            "+": ("", "A"),
            "=": ("M1", "M2"),
        }

    def test_leading_garbage_rejected(self):
        assert tp.try_parse_tag("X=A", SEPS) is None

    def test_empty_string(self):
        assert tp.try_parse_tag("", SEPS) == {}

    def test_separator_at_end_empty_value(self):
        assert tp.try_parse_tag("=A+", SEPS) == {"=": ("A",), "+": ("",)}

    def test_values_stripped(self):
        assert tp.try_parse_tag("= A1 +B2 ", SEPS) == {"=": ("A1",), "+": ("B2",)}

    def test_overlapping_separators_longest_first(self):
        cfg = AspectsConfig.from_list(
            [
                {"Separator": "===", "Aspect": "F"},
                {"Separator": "==", "Aspect": "L"},
                {"Separator": "=", "Aspect": "P"},
                {"Separator": "+", "Aspect": "X"},
            ]
        )
        assert tp.try_parse_tag("===A==B=C+D", tuple(cfg.separators)) == {
            "===": ("A",),
            "==": ("B",),
            "=": ("C",),
            "+": ("D",),
        }

    def test_overlapping_separators_short_first_config(self):
        """Pins the DELIBERATE divergence (kernels/tagparse._sep_pattern):
        with a config listing '=' BEFORE '==', the reference's
        config-order re alternation would tokenize '==A' as '=' then
        '=A' (its 'longest first' comment is false for Python re); we
        always match longest-first regardless of config order."""
        cfg = AspectsConfig.from_list(
            [
                {"Separator": "=", "Aspect": "P"},
                {"Separator": "==", "Aspect": "L"},
            ]
        )
        assert tp.try_parse_tag("==A=B", tuple(cfg.separators)) == {
            "==": ("A",),
            "=": ("B",),
        }


class TestTagParts:
    def test_pin_stripped_and_parts(self):
        assert tp.strip_pin("=F1+L1-M2:1") == "=F1+L1-M2"
        assert tp.tag_parts("=F1+L1-M2:1", CFG) == {
            "=": ("F1",),
            "+": ("L1",),
            "-": ("M2",),
        }

    def test_priority_slice_fills_empty_levels(self):
        # separator_ge: levels above the lowest present get empty tuples
        assert tp.tag_parts("-M2", CFG) == {"=": (), "+": (), "-": ("M2",)}

    def test_reconstruct_name(self):
        assert tp.reconstruct_name("=F1+L1-M2:1", CFG) == "=F1+L1-M2"


class TestFooterCompletion:
    FOOTER = ["=F1", "+L1", "&D9", ""]

    def test_prepends_missing_higher_levels(self):
        assert tp.complete_tag_with_footer("-M2", self.FOOTER, CFG) == "=F1+L1-M2"

    def test_stops_at_first_present_level(self):
        assert (
            tp.complete_tag_with_footer("+OTHER-M2", self.FOOTER, CFG)
            == "=F1+OTHER-M2"
        )

    def test_complete_tag_already_full(self):
        assert (
            tp.complete_tag_with_footer("=A+B-C", self.FOOTER, CFG) == "=A+B-C"
        )

    def test_document_separator_ignored(self):
        # '&' footer tags are skipped but '&' in the page tag still
        # collects all higher-priority footer levels (tag.py:213-218).
        assert tp.complete_tag_with_footer("&X", self.FOOTER, CFG) == "=F1+L1&X"


class TestGuids:
    def test_xtarget_guid(self):
        assert (
            tp.xtarget_guid("=F1+L1-M2")
            == "74729365-ed76-70f7-fb9d-11c0eaa9fafa"
        )

    def test_aspect_guid(self):
        assert tp.aspect_guid("+", "L1") == "6bcfc554-0212-54d4-d36c-22cf669cc3c7"

    def test_connection_guid(self):
        src = tp.xtarget_guid("=F1+L1-X1")
        dst = tp.xtarget_guid("=F1+L1-X2")
        thr = tp.xtarget_guid("=F1+L1-W5")
        assert (
            tp.connection_guid(src, dst, thr)
            == "968fb2de-c37f-d3bc-59d7-eaccc559502e"
        )
        assert (
            tp.connection_guid(src, dst, None)
            == "6d15d357-35fd-404d-0ae1-085f3f00e60d"
        )

    def test_link_guid(self):
        src = tp.xtarget_guid("=F1+L1-X1")
        dst = tp.xtarget_guid("=F1+L1-X2")
        thr = tp.xtarget_guid("=F1+L1-W5")
        conn = tp.connection_guid(src, dst, thr)
        assert (
            tp.link_guid("W1", ":1", ":2", conn)
            == "a7cc4cd4-03aa-7de6-0552-6026c7096664"
        )
        conn2 = tp.connection_guid(src, dst, None)
        assert (
            tp.link_guid("virtual_link", ":1:2", ":4", conn2)
            == "40c00ace-2a5a-76f3-4729-938600a93608"
        )

    def test_pin_chain(self):
        src = tp.xtarget_guid("=F1+L1-X1")
        dst = tp.xtarget_guid("=F1+L1-X2")
        thr = tp.xtarget_guid("=F1+L1-W5")
        link = tp.link_guid("W1", ":1", ":2", tp.connection_guid(src, dst, thr))
        chain = tp.pin_chain(":PIN1:PIN2", "src", link)
        assert [p["name"] for p in chain] == ["PIN2", "PIN1"]
        assert chain[0]["guid"] == "5e6904d5-3382-b349-429e-d1a6d591b464"
        assert chain[1]["guid"] == "f4550f77-247c-413f-d17c-f004cec88bc2"
        assert chain[1]["child_guid"] == chain[0]["guid"]

    def test_attribute_guids(self):
        assert (
            tp.simple_attribute_guid("Color", "red")
            == "5b6e9acf-4e91-498f-2bcf-a5a9044e3353"
        )
        assert (
            tp.routing_tracks_attribute_guid("route", ["B", "A", "C"])
            == "eabcc9eb-1130-c16f-a804-8165f7943cef"
        )
        assert (
            tp.plc_address_attribute_guid("%I0.1", {"Rack": "1", "Module": "2"})
            == "241c0599-c462-75f1-2d65-7bd7a5883b68"
        )
        loc_repr = tp.pdf_location_repr((10.0, 20.5, 30.0, 40.25))
        assert loc_repr == "(10.0, 20.5, 30.0, 40.25)"
        assert (
            tp.pdf_location_attribute_guid("location", 3, loc_repr)
            == "7b213a83-c7aa-dcd6-e4d2-3d147b2c432f"
        )


class TestPinHelpers:
    def test_split_pin_tag(self):
        assert tp.split_pin_tag("+A1-M2:1") == ("+A1-M2", ":1")
        assert tp.split_pin_tag("+A1-M2") == ("+A1-M2", None)
        assert tp.split_pin_tag("+A1-M2:1:2") == ("+A1-M2", ":1:2")

    def test_is_pin_tag(self):
        assert tp.is_pin_tag("+A1:1")
        assert not tp.is_pin_tag("+A1")

    def test_normalize_string(self):
        assert tp.normalize_string("  Hello   WORLD  ") == "hello world"


# ---------------------------------------------------------------------------
# the SQL-text grammar (functions/tags.py) and the DuckDB oracle's
# _PARSE_CTE against the kernels above
# ---------------------------------------------------------------------------

MULTI = AspectsConfig.from_list(
    [{"Separator": s, "Aspect": f"L{i}"} for i, s in enumerate(["==", "=", "+", "-"])]
)
LONG_FIRST = AspectsConfig.from_list(
    [{"Separator": s, "Aspect": f"L{i}"} for i, s in enumerate(["===", "==", "=", "+"])]
)
SHORT_FIRST = AspectsConfig.from_list(
    [{"Separator": s, "Aspect": f"L{i}"} for i, s in enumerate(["=", "=="])]
)
PARITY_CONFIGS = [CFG, MULTI, LONG_FIRST, SHORT_FIRST]
PARITY_TAGS = [
    # every input of the tests above
    "+A1-M2", "++A=M1=M2", "X=A", "", "=A+", "= A1 +B2 ", "===A==B=C+D", "==A=B",
    "=F1+L1-M2:1", "-M2", "=F1", "+L1", "&D9", "+OTHER-M2", "=A+B-C", "&X",
    # empty, whitespace-only, separator-only, text before the first
    # separator, repeated separators
    "   ", "\t\r\n", "=", "==", "+-=", "--X", "abc=F1", "x", ":1", "-M1-M2-M3", "=+",
    # line breaks, U+0085, U+2028 and U+001C around values; U+200B is not
    # whitespace; non-ASCII text
    "\t=A\t", "=A\r\n-B", "\x1c=A\x1c", "\u0085=A ", "=A\u2028+\u2028B\u2029",
    "\u3000=A\xa0", "\u200b=A", "=Grüße+日本-✓", "=A:b:c", "=a'b\\c",
]


def _single_aspect(tag, separators):
    """The create_aspect status rule over try_parse_tag."""
    parsed = tp.try_parse_tag(tag, separators)
    if not parsed:
        return (None, None, 1)
    sep, vals = next(iter(parsed.items()))
    return (sep, vals[0], 0) if len(parsed) == 1 and len(vals) == 1 else (None, None, 2)


def test_whitespace_is_str_isspace():
    from indu_doc_transformer_spark.functions.tags import WHITESPACE

    assert len(WHITESPACE) == len(set(WHITESPACE))
    assert set(WHITESPACE) == {c for c in map(chr, range(0x110000)) if c.isspace()}


def test_sql_grammar_matches_kernel(spark):
    """sql_tag_parts equals tag_parts and sql_single_aspect equals the
    create_aspect rule over try_parse_tag, on every case and config
    (maps compared by contents: collect() does not keep key order)."""
    from pyspark.sql import functions as F

    from indu_doc_transformer_spark.functions.tags import sql_single_aspect, sql_tag_parts

    df = spark.createDataFrame([(t,) for t in PARITY_TAGS], "t string")
    cols = []
    for i, cfg in enumerate(PARITY_CONFIGS):
        cols.append(F.expr(sql_tag_parts("t", cfg)).alias(f"parts{i}"))
        cols.append(F.expr(sql_single_aspect("t", cfg.separators)).alias(f"aspect{i}"))
    rows = df.select("t", *cols).collect()
    assert [r.t for r in rows] == PARITY_TAGS
    for r in rows:
        for i, cfg in enumerate(PARITY_CONFIGS):
            want = {k: list(v) for k, v in tp.tag_parts(r.t, cfg).items()}
            assert dict(r[f"parts{i}"]) == want, (r.t, cfg.separators)
            got = tuple(r[f"aspect{i}"])
            assert got == _single_aspect(r.t, tuple(cfg.separators)), (r.t, cfg.separators)


def test_duckdb_tag_grammar_matches_kernel():
    """The DuckDB oracle's _PARSE_CTE (DEFAULT_ASPECTS only) parses the
    same cases like tag_parts and the create_aspect rule, its strips
    included."""
    import duckdb

    import __spark_entry__ as entry

    tags = list(dict.fromkeys(PARITY_TAGS))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE compl AS SELECT 'u' || i AS url, 1 AS page_no, t AS through_completed,"
        " NULL::VARCHAR AS src_completed, NULL::VARCHAR AS dst_completed"
        " FROM (SELECT unnest(?::VARCHAR[]) AS t, generate_subscripts(?::VARCHAR[], 1) AS i)",
        [tags, tags],
    )
    con.execute(
        "CREATE TABLE reqs AS SELECT 'u' || i AS url, 1 AS page_no, 'aspect' AS kind,"
        " t AS raw_tag, NULL::VARCHAR AS raw_tag_c, NULL::VARCHAR AS attrs"
        " FROM (SELECT unnest(?::VARCHAR[]) AS t, generate_subscripts(?::VARCHAR[], 1) AS i)",
        [tags, tags],
    )
    cte = "WITH unused AS (SELECT 1)" + entry._PARSE_CTE
    valid = {
        tag: {s: tuple(v for f, v in zip(seps, vals) if f == s) for s in SEPS[: lowest + 1]}
        for tag, seps, vals, lowest in con.execute(
            cte + "SELECT tag, seps, vals, lowest FROM tvalid"
        ).fetchall()
    }
    for tag in tags:
        assert valid.get(tag, {}) == tp.tag_parts(tag, CFG), tag
    aspects = dict(
        (raw, (sep, value, status))
        for raw, status, sep, value in con.execute(
            cte + "SELECT raw_tag, status, asep, avalue FROM aclass"
        ).fetchall()
    )
    assert sorted(aspects) == sorted(tags)
    for tag in tags:
        assert aspects[tag] == _single_aspect(tag, SEPS), tag
