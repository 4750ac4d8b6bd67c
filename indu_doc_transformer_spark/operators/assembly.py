"""Relational entity assembly: normalized extraction rows -> deduplicated
entity tables, entirely in DataFrame algebra.

This is the Spark-first re-expression of the reference's God factory
layer (god.py:237-565) and per-type page handlers
(page_processor.py:107-521). Where the reference upserts into
in-memory dicts row by row, we:

- project every row into an array of typed *requests* (xtarget /
  connection / connection-with-link / aspect / error / attribute-pool)
  in nine per-page-type branches, unioned into one requests table
  (``requests_table``). ';'-products (J6) and the terminal _1/_2 side
  split (T9) are built inside array transforms; each branch is one
  filtered scan + one explode,
- complete tags against footers in the extraction kernel (the '_c:'
  columns — no per-row Python here at all),
- compute every GUID as a native md5 expression (F8 — join
  elimination: FK assignment never joins, both sides hash),
- finalize with groupBy(guid) merges: max type priority (A4),
  first-wins entities (A1,A5-A8), set-union attachments (A3,A6).

The request branches are SQL text built by plain Python (no JVM
round trip until ``selectExpr``); the text interpolates constants only
— column names, map-key and message literals — never row data. The
finishers (``finish``) use the Column DSL.

Dedup-by-GUID replaces dedup-on-create; Catalyst plans partial/final
hash aggregation (the reference's sub_god merge, A9) automatically.

The pure-Python oracle (kernels/assemble.py) defines expected results;
tests/test_assembly.py verifies set-equality of every output table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ASPECTS, AspectsConfig
from ..functions import guids as G
from ..functions.tags import make_single_aspect_udf, make_tag_parts_udf
from ..plans.cache import release_local_checkpoint

ATTR_TYPE = "array<struct<guid:string,name:string,type:string,value_json:string>>"
EMPTY_ATTRS = f"cast(array() as {ATTR_TYPE})"

# unified request struct: one array element per factory call
_REQ_STRINGS = (
    "kind",           # xreq | conn | cwl | aspect | error | pool
    "raw_tag",        # xreq/aspect
    "raw_tag_c",
    "target_type",
    "through_tag",    # conn/cwl
    "through_tag_c",
    "src_tag",        # conn (pre-split); cwl uses *_pin_tag
    "src_tag_c",
    "dst_tag",
    "dst_tag_c",
    "src_pin_tag",    # cwl
    "src_pin_tag_c",
    "dst_pin_tag",
    "dst_pin_tag_c",
    "message",        # error
)
_REQ_ATTRS = ("attrs", "link_attrs", "through_attrs", "loc_attrs")

TYPE_PRIORITY = {"cable": 3, "device": 2, "strip": 1, "other": 0}


def _pri(type_col: Column) -> Column:
    c = F.when(type_col == "cable", 3).when(type_col == "device", 2)
    return c.when(type_col == "strip", 1).otherwise(0)


def _pri_name(pri_col: Column) -> Column:
    c = F.when(pri_col == 3, "cable").when(pri_col == 2, "device")
    return c.when(pri_col == 1, "strip").otherwise("other")


def _concat_str(*parts) -> Column:
    return F.concat(*[p if isinstance(p, Column) else F.lit(p) for p in parts])


# -- request-layer SQL text (constants only, never row data) -----------


def _q(s: str) -> str:
    """SQL string literal for a constant."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _g(cols: str, name: str) -> str:
    """str(row[name]).strip() with missing-key -> '' (handler accessor)."""
    return f"trim(coalesce(try_element_at({cols}, {_q(name)}), ''))"


def _split(expr: str) -> str:
    return f"split({expr}, ';')"


def _zip(fields: dict[str, str]) -> str:
    """arrays_zip with named fields (SQL arrays_zip names them by ordinal)."""
    names = ",".join(f"{n}:string" for n in fields)
    return f"cast(arrays_zip({', '.join(fields.values())}) as array<struct<{names}>>)"


def _kept_entries(cols: str, exclude: list[str]) -> str:
    """Map entries that become attributes: not excluded, not meta ('_'),
    non-empty key and trimmed value (page_processor.py:122-130)."""
    return (
        f"filter(map_entries({cols}), e -> e.key NOT IN ({', '.join(map(_q, exclude))})"
        " AND NOT startswith(e.key, '_') AND e.key != '' AND trim(e.value) != '')"
    )


def _attr(guid: str, name: str, attr_type: str, value_json: str) -> str:
    return (
        f"struct({guid} AS guid, {name} AS name, {_q(attr_type)} AS type,"
        f" {value_json} AS value_json)"
    )


def _simple_attrs(cols: str, exclude: list[str]) -> str:
    """SIMPLE attributes from every kept column."""
    v = "trim(e.value)"
    attr = _attr(
        G.simple_attribute_guid("e.key", v), "e.key", "SIMPLE",
        f"to_json(struct({v} AS value))",
    )
    return f"transform({_kept_entries(cols, exclude)}, e -> {attr})"


def _loc_attrs() -> str:
    """0/1-element array with the PDF_LOCATION attribute."""
    attr = _attr(
        G.pdf_location_attribute_guid("page_no", "loc_repr"), "'location'", "PDF_LOCATION",
        "to_json(struct(loc_repr AS bbox, page_no AS page_no))",
    )
    return f"CASE WHEN loc_repr IS NOT NULL THEN array({attr}) ELSE {EMPTY_ATTRS} END"


def _routing_attr(route: str) -> str:
    tracks = _split(route)
    # value_json uses the sorted tracks: the guid is order-insensitive
    # (attributes.py:373-381) so first-wins dedup over differently-
    # ordered track lists would otherwise be nondeterministic
    return _attr(
        G.routing_tracks_attribute_guid("'route'", tracks), "'route'", "ROUTING_TRACKS",
        f"to_json(struct(array_sort({tracks}) AS tracks))",
    )


def _plc_attr(cols: str) -> str:
    """PLC_ADDRESS attribute: address + sorted k=v metadata
    (attributes.py:492-500)."""
    entries = (
        f"array_sort(transform({_kept_entries(cols, ['tag', 'plc_addr'])},"
        " e -> struct(e.key AS key, trim(e.value) AS value)))"
    )
    meta = f"map_from_entries({entries})"
    addr = _g(cols, "plc_addr")
    return _attr(
        G.plc_address_attribute_guid(addr, meta), addr, "PLC_ADDRESS",
        f"to_json(struct({meta} AS meta))",
    )


def _req(kind: str, **fields: str) -> str:
    """One request struct; unset fields are NULL / empty attribute arrays."""
    fields["kind"] = _q(kind)
    parts = [f"{fields.get(n, 'CAST(NULL AS STRING)')} AS {n}" for n in _REQ_STRINGS]
    parts += [f"{fields.get(n, EMPTY_ATTRS)} AS {n}" for n in _REQ_ATTRS]
    return f"struct({', '.join(parts)})"


def _skipped(bad: str, ok: str, what: str, *exprs: str) -> str:
    """``ok`` unless ``bad``; then one error request 'row #N skipped: '
    + ``what``, whose '{}' holes take ``exprs`` in order."""
    pieces = ("row #{} skipped: " + what).split("{}")
    parts = [_q(pieces[0])]
    for e, lit in zip(("row_idx",) + exprs, pieces[1:]):
        parts += [e] + ([_q(lit)] if lit else [])
    err = _req("error", message=f"concat({', '.join(parts)})")
    return f"CASE WHEN {bad} THEN array({err}) ELSE {ok} END"


class Assembler:
    """Builds the entity tables from a normalized rows DataFrame
    (operators/extraction.rows_table output)."""

    def __init__(self, config: AspectsConfig = DEFAULT_ASPECTS):
        self.config = config
        self.tag_parts = make_tag_parts_udf(config)
        self.single_aspect = make_single_aspect_udf(config)

    # -- per-type request builders (each returns array<request> SQL) ----

    def _connection_list(self, cols: str, attrs: str, loc: str) -> str:
        tag_from, tag_to = _g(cols, "src_pin_tag"), _g(cols, "dst_pin_tag")
        ok = _req(
            "cwl",
            src_pin_tag=tag_from,
            src_pin_tag_c=_g(cols, "_c:src_pin_tag"),
            dst_pin_tag=tag_to,
            dst_pin_tag_c=_g(cols, "_c:dst_pin_tag"),
            link_attrs=attrs,
            attrs=attrs,
            loc_attrs=loc,
        )
        return _skipped(
            f"({tag_from} = '' OR {tag_to} = '')", f"array({ok})",
            "one/both of the connection targets are empty (is that intended?): `{}` `{}`",
            tag_from, tag_to,
        )

    def _device_tag_list(self, cols: str, attrs: str) -> str:
        tag = _g(cols, "tag")
        ok = _req(
            "xreq", raw_tag=tag, raw_tag_c=_g(cols, "_c:tag"),
            target_type="'device'", attrs=attrs,
        )
        return _skipped(
            f"{tag} = ''", f"array({ok})",
            "empty device tag (is that intended?): `{}`", tag,
        )

    def _cable_overview(self, cols: str, attrs: str, loc: str) -> str:
        tag = _g(cols, "cable_tag")
        tag_from, tag_to = _g(cols, "src_tag"), _g(cols, "dst_tag")
        conn = _req(
            "conn",
            through_tag=tag,
            through_tag_c=_g(cols, "_c:cable_tag"),
            src_tag=tag_from,
            src_tag_c=_g(cols, "_c:src_tag"),
            dst_tag=tag_to,
            dst_tag_c=_g(cols, "_c:dst_tag"),
            through_attrs=attrs,
            attrs=attrs,
            loc_attrs=loc,
        )
        # one-sided rows register attributes but create nothing
        # (page_processor.py:193-213): emit a pool-only request
        pool = _req("pool", attrs=attrs)
        ok = (
            f"CASE WHEN ({tag_from} != '' AND {tag_to} != '') THEN array({conn})"
            f" ELSE array({pool}) END"
        )
        return _skipped(
            f"({tag} = '' OR ({tag_from} = '' AND {tag_to} = ''))", ok,
            "empty cable tag (is that intended?): `{}` from=`{}` to=`{}`",
            tag, tag_from, tag_to,
        )

    def _topology(self, cols: str, attrs: str, loc: str) -> str:
        tag = _g(cols, "designation")
        tags_src, tags_dst = _g(cols, "src_tags"), _g(cols, "dst_tags")
        tags_route = _g(cols, "route")
        # J6: cartesian of ';'-split src x dst (page_processor.py:299-304)
        # as nested transforms over pre-zipped arrays (each split is
        # evaluated once as a transform input, not per element)
        src_zip = _zip({"r": _split(tags_src), "c": _split(_g(cols, "_c:src_tags"))})
        dst_zip = _zip({"r": _split(tags_dst), "c": _split(_g(cols, "_c:dst_tags"))})
        conn = _req(
            "conn",
            through_tag=tag,
            through_tag_c=_g(cols, "_c:designation"),
            src_tag="s.r",
            src_tag_c="s.c",
            dst_tag="d.r",
            dst_tag_c="d.c",
            through_attrs=attrs,
            loc_attrs=loc,
        )
        pairs = f"flatten(transform({src_zip}, s -> transform({dst_zip}, d -> {conn})))"
        return _skipped(
            f"({tag} = '' OR {tags_src} = '' OR {tags_dst} = '' OR {tags_route} = '')",
            f"concat({pairs}, array({_req('pool', attrs=attrs)}))",
            "empty topology tag (is that intended?): `{}` from=`{}` to=`{}` route=`{}`",
            tag, tags_src, tags_dst, tags_route,
        )

    def _wires(self, cols: str, attrs: str, loc: str) -> str:
        tag_src, tag_dst = _g(cols, "src_pin_tag"), _g(cols, "dst_pin_tag")
        ok = _req(
            "cwl",
            src_pin_tag=tag_src,
            src_pin_tag_c=_g(cols, "_c:src_pin_tag"),
            dst_pin_tag=tag_dst,
            dst_pin_tag_c=_g(cols, "_c:dst_pin_tag"),
            link_attrs=attrs,
            attrs=attrs,
            loc_attrs=loc,
        )
        return _skipped(
            f"({tag_src} = '' OR {tag_dst} = '')", f"array({ok})",
            "empty wire connection info (is that intended?): from=`{}` to=`{}`",
            tag_src, tag_dst,
        )

    def _cable_diagram(self, cols: str, attrs: str, loc: str) -> str:
        """Also reused for each terminal-diagram side (T9)."""
        tag = _g(cols, "cable_tag")
        tag_src, tag_dst = _g(cols, "src_tag"), _g(cols, "dst_tag")
        pin_src, pin_dst = _g(cols, "src_pin"), _g(cols, "dst_pin")
        ts, ps, cs = _split(tag_src), _split(pin_src), _split(tag)
        td, pd = _split(tag_dst), _split(pin_dst)
        # zip of src triples x dst pairs (page_processor.py:408-422);
        # Python zip truncates to the shortest list -> slice+least
        src_zip = _zip({
            "t": ts, "ct": _split(_g(cols, "_c:src_tag")), "p": ps,
            "c": cs, "cc": _split(_g(cols, "_c:cable_tag")),
        })
        dst_zip = _zip({"t": td, "ct": _split(_g(cols, "_c:dst_tag")), "p": pd})
        link = _req(
            "cwl",
            through_tag="CASE WHEN sp.c != '' THEN sp.c END",
            through_tag_c="sp.cc",
            src_pin_tag="concat(sp.t, ':', sp.p)",
            src_pin_tag_c="concat(sp.ct, ':', sp.p)",
            dst_pin_tag="concat(dp.t, ':', dp.p)",
            dst_pin_tag_c="concat(dp.ct, ':', dp.p)",
            link_attrs=attrs,
            loc_attrs=loc,
        )
        pairs = (
            f"flatten(transform(slice({src_zip}, 1, least(size({ts}), size({ps}), size({cs}))),"
            f" sp -> transform(slice({dst_zip}, 1, least(size({td}), size({pd}))),"
            f" dp -> {link})))"
        )
        return _skipped(
            f"({tag_src} = '' AND {tag_dst} = '' AND {pin_src} = '' AND {pin_dst} = '')",
            f"concat({pairs}, array({_req('pool', attrs=attrs)}))",
            "empty cable diagram info (is that intended?): `{}` from=`{}``{}` to=`{}``{}` ",
            tag, tag_src, pin_src, tag_dst, pin_dst,
        )

    def _structure(self, cols: str, attrs: str) -> str:
        return f"array({_req('aspect', raw_tag=_g(cols, 'tag'), attrs=attrs)})"

    def _plc(self, cols: str, attrs: str) -> str:
        tag, plc_addr = _g(cols, "tag"), _g(cols, "plc_addr")
        ok = _req(
            "xreq", raw_tag=tag, raw_tag_c=_g(cols, "_c:tag"),
            target_type="'device'", attrs=attrs,
        )
        return _skipped(
            f"({tag} = '' OR {plc_addr} = '')", f"array({ok})",
            "empty PLC diagram info (is that intended?): `{}` addr=`{}`",
            tag, plc_addr,
        )

    @staticmethod
    def _terminal_side(prefix: str) -> str:
        """_1/_2-prefixed columns merged over the base columns
        (page_processor.py:503-521)."""
        base = "map_filter(cols, (k, v) -> NOT (startswith(k, '_1') OR startswith(k, '_2')))"
        side = (
            f"transform_keys(map_filter(cols, (k, v) -> startswith(k, {_q(prefix)})),"
            " (k, v) -> substring(k, 3, 100000))"
        )
        return f"map_concat({base}, {side})"

    _SIMPLE_EXCLUDE = {
        "connection_list": ["src_pin_tag", "dst_pin_tag", "name"],
        "device_tag_list": ["tag"],
        "cable_overview": ["cable_tag", "src_tag", "dst_tag"],
        "topology": ["designation", "src_tags", "dst_tags", "route"],
        "wires_part_list": ["src_pin_tag", "dst_pin_tag", "route"],
        "cable_diagram": ["cable_tag", "src_tag", "src_pin", "dst_tag", "dst_pin"],
        "structure_identifier_overview": ["tag"],
    }

    def _branch_exprs(self, page_type: str) -> tuple[list[tuple[str, str]], str]:
        """The branch's SQL text: an ordered list of precomputed
        (name, expression) columns plus the request-array expression.

        Plain string building: nothing here touches the JVM, so there is
        nothing to cache. The precomputed ``_loc_a``/``_attrs`` (terminal:
        ``_cols1/2``, ``_attrs1/2``) hold the md5+to_json attribute
        arrays, evaluated once per row instead of once per emitted
        request element.
        """
        pre = [("_loc_a", _loc_attrs())]
        excl = self._SIMPLE_EXCLUDE.get(page_type)
        base = f"concat({_simple_attrs('cols', excl)}, _loc_a)" if excl else None
        if page_type == "connection_list":
            pre.append(("_attrs", base))
            req = self._connection_list("cols", "_attrs", "_loc_a")
        elif page_type == "device_tag_list":
            pre.append(("_attrs", base))
            req = self._device_tag_list("cols", "_attrs")
        elif page_type == "cable_overview":
            pre.append(("_attrs", base))
            req = self._cable_overview("cols", "_attrs", "_loc_a")
        elif page_type == "topology":
            route = _routing_attr(_g("cols", "route"))
            pre.append(("_attrs", f"concat({base}, array({route}))"))
            req = self._topology("cols", "_attrs", "_loc_a")
        elif page_type == "wires_part_list":
            route = _g("cols", "route")
            routing = (
                f"CASE WHEN {route} != '' THEN array({_routing_attr(route)})"
                f" ELSE {EMPTY_ATTRS} END"
            )
            pre.append(("_attrs", f"concat({base}, {routing})"))
            req = self._wires("cols", "_attrs", "_loc_a")
        elif page_type == "cable_diagram":
            pre.append(("_attrs", base))
            req = self._cable_diagram("cols", "_attrs", "_loc_a")
        elif page_type == "terminal_diagram":
            cable_excl = self._SIMPLE_EXCLUDE["cable_diagram"]
            pre += [
                ("_cols1", self._terminal_side("_1")),
                ("_cols2", self._terminal_side("_2")),
                ("_attrs1", f"concat({_simple_attrs('_cols1', cable_excl)}, _loc_a)"),
                ("_attrs2", f"concat({_simple_attrs('_cols2', cable_excl)}, _loc_a)"),
            ]
            req = (
                f"concat({self._cable_diagram('_cols1', '_attrs1', '_loc_a')},"
                f" {self._cable_diagram('_cols2', '_attrs2', '_loc_a')})"
            )
        elif page_type == "structure_identifier_overview":
            pre.append(("_attrs", base))
            req = self._structure("cols", "_attrs")
        elif page_type == "plc_diagram":
            pre.append(("_attrs", f"concat(array({_plc_attr('cols')}), _loc_a)"))
            req = self._plc("cols", "_attrs")
        else:  # pragma: no cover - guarded by HANDLED_PAGE_TYPES
            raise KeyError(page_type)
        return pre, req

    def _branch(self, rows: DataFrame, page_type: str) -> DataFrame:
        """One per-page-type branch: filter -> branch-specific precompute
        -> request projection -> explode.

        Nine small per-type projections, not one CASE over page_type:
        a single projection over all nine handlers compiled to one giant
        janino class (~35s one-time compile, too wide for whole-stage
        codegen); the small ones compile in ~2s each and run codegen'd.
        Each branch re-scans the rows input with a pushable page_type
        filter — at warehouse scale the rows stage table is partitioned
        by page_type, so the 9 scans prune to 1 full pass.
        """
        pre, req = self._branch_exprs(page_type)
        b = rows.where(f"page_type = {_q(page_type)}")
        for name, expr in pre:
            b = b.selectExpr("*", f"{expr} AS {name}")
        # explode_outer + isNotNull instead of a bare explode: the
        # non-outer Generate plants an implicit `size(reqs)>0` filter
        # that the optimizer pushes BELOW the request projection by
        # substitution — re-evaluating the entire (interpreted,
        # HOF-laden) request expression once more per input row
        # (guide §4.4's duplication, measured 2.8-4.4x per branch).
        # Equivalent output: request elements are constructed structs
        # (never NULL), and for a NULL/empty array both forms drop the
        # row (outer emits r=NULL which the filter removes).
        return (
            b.selectExpr("*", f"{req} AS reqs")
            .selectExpr("url", "page_no", "footer_tags", "explode_outer(reqs) AS r")
            .where("r IS NOT NULL")
            .selectExpr("url", "page_no", "footer_tags", "r.*")
        )

    HANDLED_PAGE_TYPES = (
        "connection_list",
        "device_tag_list",
        "cable_overview",
        "topology",
        "wires_part_list",
        "cable_diagram",
        "terminal_diagram",
        "structure_identifier_overview",
        "plc_diagram",
    )

    # -- the per-type branches + finishers ------------------------------

    def requests_table(self, rows: DataFrame) -> DataFrame:
        """The typed-request stage table: union of the 9 per-page-type
        branches. At warehouse scale this is a real intermediate table
        (write it, then run ``finish`` as a separate restartable job)."""
        rows = rows.select(
            "url", "page_no", "page_type", "footer_tags", "row_idx", "cols", "loc_repr"
        )
        parts = [self._branch(rows, pt) for pt in self.HANDLED_PAGE_TYPES]
        reqs = parts[0]
        for p in parts[1:]:
            reqs = reqs.unionByName(p)
        return reqs

    def assemble(self, rows: DataFrame) -> dict[str, DataFrame]:
        """Materializes every shared intermediate once, before any
        output is written: the rows input and the exploded requests
        (eager localCheckpoints), the two tag-parser results (eager
        localCheckpoints, so no entity plan evaluates Python), and the
        conn_all/xall fan-out frames (coalesced, lazily persisted); the
        errors union is coalesced too. At warehouse scale the same role
        is played by materializing stage tables. ``finish(reqs,
        persist=False)`` is the all-lazy finisher over a requests table
        built elsewhere."""
        # materialize the branch INPUT once (guide §2.4 "two
        # operations keyed the same way can share one pass"): the
        # nine per-type branches each re-run the upstream
        # scan+explode+project otherwise — 9 full parquet decodes of
        # the extracted table per assemble. One narrow eager
        # localCheckpoint of the 7 needed columns turns that into
        # 1 decode + 9 in-memory scans (measured ~2x on the request
        # stage at sf1.0). At warehouse scale the equivalent is the
        # page_type-partitioned rows stage table the branch
        # docstring describes.
        rows = rows.select(
            "url", "page_no", "page_type", "footer_tags",
            "row_idx", "cols", "loc_repr",
        ).localCheckpoint(eager=True)
        # localCheckpoint (not just persist): the request-building
        # projections are large, and every downstream action would
        # re-run Catalyst analysis over them; truncating the lineage
        # here makes all 9 output plans small. At warehouse scale
        # the equivalent is writing the requests stage table.
        #
        # coalesce first: the 9-branch union carries 9x the scan
        # partitions, the checkpointed RDD freezes that count, and
        # finisher plans scan reqs up to 7x per stage — without the
        # coalesce a single count ran 2016 sub-millisecond tasks
        # (pure scheduler overhead, measured 44-58s per output at
        # sf0.01). Narrow dependency, no shuffle.
        n = rows.sparkSession.sparkContext.defaultParallelism
        reqs = self.requests_table(rows).coalesce(n).localCheckpoint(eager=True)
        # the rows checkpoint fed exactly that materialization —
        # release its blocks now instead of holding a second copy
        # of the corpus in executor storage until context cleanup
        release_local_checkpoint(rows)
        return self.finish(reqs)

    def finish(self, reqs: DataFrame, persist: bool = True) -> dict[str, DataFrame]:
        """Entity tables from a (possibly persisted/read-back) requests
        stage table — the God-merge finisher layer."""

        handler_errors = reqs.where(F.col("kind") == "error").select(
            "url", "page_no", F.lit("WARNING").alias("severity"),
            F.col("message").alias("message"),
        )
        attr_pool = reqs.select("attrs", "link_attrs", "through_attrs", "loc_attrs")
        xreq = reqs.where(F.col("kind") == "xreq")
        aspect_req = reqs.where(F.col("kind") == "aspect")

        # ---- create_connection_with_link guards (god.py:507-533) ----
        def split_pin(col: Column):
            pos = F.instr(col, ":")
            tag = F.when(pos > 0, F.substring(col, 1, pos - 1)).otherwise(col)
            pin = F.when(pos > 0, F.substr(col, pos)).otherwise(F.lit(None))
            return tag, pin

        cwl = reqs.where(F.col("kind") == "cwl")
        s_tag, s_pin = split_pin(F.col("src_pin_tag"))
        d_tag, d_pin = split_pin(F.col("dst_pin_tag"))
        sc_tag, _ = split_pin(F.col("src_pin_tag_c"))
        dc_tag, _ = split_pin(F.col("dst_pin_tag_c"))
        cwl = (
            cwl.withColumn("src_tag", s_tag)
            .withColumn("src_pin", s_pin)
            .withColumn("dst_tag", d_tag)
            .withColumn("dst_pin", d_pin)
            .withColumn("src_tag_c", sc_tag)
            .withColumn("dst_tag_c", dc_tag)
        )
        no_pins = (
            F.col("src_pin").isNull() | (F.col("src_pin") == "")
            | F.col("dst_pin").isNull() | (F.col("dst_pin") == "")
        )
        pin_errors = cwl.where(no_pins).select(
            "url", "page_no", F.lit("WARNING").alias("severity"),
            _concat_str(
                "Linked connection where one/no pins specified: `",
                F.coalesce(F.col("src_pin"), F.lit("None")), "` `",
                F.coalesce(F.col("dst_pin"), F.lit("None")), "`",
            ).alias("message"),
        )
        cwl = cwl.where(~no_pins)
        no_tags = (F.col("src_tag") == "") | (F.col("dst_tag") == "")
        tag_errors = cwl.where(no_tags).select(
            "url", "page_no", F.lit("WARNING").alias("severity"),
            _concat_str(
                "Linked connection where one/no targets specified: `",
                F.col("src_tag"), "` `", F.col("dst_tag"), "`",
            ).alias("message"),
        )
        cwl = cwl.where(~no_tags)

        # ---- connections (both paths) --------------------------------
        base_cols = ["url", "page_no", "footer_tags"]
        cwl_conn = cwl.select(
            *base_cols, "through_tag", "through_tag_c",
            "src_tag", "src_tag_c", "dst_tag", "dst_tag_c",
            F.col("loc_attrs").alias("through_attrs"), "loc_attrs",
            "src_pin", "dst_pin", "link_attrs",
            F.lit(True).alias("with_link"),
        )
        conn_only = reqs.where(F.col("kind") == "conn").select(
            *base_cols, "through_tag", "through_tag_c",
            "src_tag", "src_tag_c", "dst_tag", "dst_tag_c",
            "through_attrs", "loc_attrs",
            F.lit(None).cast("string").alias("src_pin"),
            F.lit(None).cast("string").alias("dst_pin"),
            F.expr(EMPTY_ATTRS).alias("link_attrs"),
            F.lit(False).alias("with_link"),
        )
        conn_all = cwl_conn.unionByName(conn_only)

        # normalize empty through -> null ('' is falsy in god.py:484-489)
        conn_all = conn_all.withColumn(
            "through_tag",
            F.when(F.col("through_tag") == "", None).otherwise(F.col("through_tag")),
        )

        # completed tags come from the extraction kernel ('_c:' columns).
        # Pin-tag prohibition: create_xtarget returns None for raw tags
        # containing ':' (god.py:351-354)
        def completed(raw_col: str, c_col: str):
            return F.when(
                F.col(raw_col).isNull() | F.col(raw_col).contains(":"), None
            ).otherwise(F.col(c_col))

        conn_all = (
            conn_all.withColumn("through_completed", completed("through_tag", "through_tag_c"))
            .withColumn("src_completed", completed("src_tag", "src_tag_c"))
            .withColumn("dst_completed", completed("dst_tag", "dst_tag_c"))
            .withColumn("through_guid", G.xtarget_guid(F.col("through_completed")))
            .withColumn("src_guid", G.xtarget_guid(F.col("src_completed")))
            .withColumn("dst_guid", G.xtarget_guid(F.col("dst_completed")))
            .withColumn(
                "conn_guid",
                G.connection_guid(
                    F.col("src_guid"), F.col("dst_guid"), F.col("through_guid")
                ),
            )
        )
        if persist:
            # feeds connections, links, pins, xtargets (3 roles), lineage
            # (plan is small once reqs is checkpointed -> lazy cache).
            # coalesce first, for the reason reqs is coalesced: the
            # union keeps both children's partitions, the cache freezes
            # that count, and every consumer scan would fan out into it
            n = reqs.sparkSession.sparkContext.defaultParallelism
            conn_all = conn_all.coalesce(n).persist()

        connections = conn_all.select(
            F.col("conn_guid").alias("guid"), "src_guid", "dst_guid", "through_guid"
        ).dropDuplicates(["guid"])

        # ---- links + pins --------------------------------------------
        linked = conn_all.where("with_link").withColumn(
            "link_name",
            F.coalesce(F.col("through_tag"), F.lit("virtual_link")),
        ).withColumn(
            "link_guid",
            G.link_guid(
                F.col("link_name"), F.col("src_pin"), F.col("dst_pin"), F.col("conn_guid")
            ),
        )

        links = linked.select(
            F.col("link_guid").alias("guid"),
            F.col("link_name").alias("name"),
            F.col("conn_guid").alias("connection_guid"),
            F.col("src_pin").alias("src_pin_name"),
            F.col("dst_pin").alias("dest_pin_name"),
        ).dropDuplicates(["guid"])

        # explode_outer + isNotNull (not bare explode): the implicit
        # size()>0 filter of a non-outer Generate is pushed below the
        # projection and re-runs BOTH pin-chain md5 folds per row
        # (guide §4.4 duplication — same fix as the branch explode).
        # Chain elements are array_append'ed structs, never NULL.
        pins = (
            linked.select(
                F.explode_outer(
                    F.concat(
                        G.pin_chain_expr("src_pin", "src", "link_guid"),
                        G.pin_chain_expr("dst_pin", "dst", "link_guid"),
                    )
                ).alias("p")
            )
            .where(F.col("p").isNotNull())
            .select("p.*")
            .dropDuplicates(["guid"])
        )

        # ---- xtargets -------------------------------------------------
        x_parts = [
            xreq.withColumn("completed", completed("raw_tag", "raw_tag_c"))
            .where(F.col("completed").isNotNull())
            .select(*base_cols, "completed", "target_type", "attrs")
        ]
        for role, ttype, attr_col in (
            ("through", "cable", "through_attrs"),
            ("src", "device", "loc_attrs"),
            ("dst", "device", "loc_attrs"),
        ):
            x_parts.append(
                conn_all.where(F.col(f"{role}_completed").isNotNull()).select(
                    *base_cols,
                    F.col(f"{role}_completed").alias("completed"),
                    F.lit(ttype).alias("target_type"),
                    F.col(attr_col).alias("attrs"),
                )
            )
        xall = x_parts[0]
        for p in x_parts[1:]:
            xall = xall.unionByName(p)
        xall = xall.withColumn("guid", G.xtarget_guid(F.col("completed")))
        if persist:
            # feeds xtargets, distinct_tags, attachments, lineage; a
            # 4-child union, coalesced before caching like conn_all
            xall = xall.coalesce(n).persist()

        xtargets = (
            xall.groupBy("guid")
            .agg(
                F.first("completed").alias("tag"),
                F.max(_pri(F.col("target_type"))).alias("pri"),
            )
            .select("guid", "tag", _pri_name(F.col("pri")).alias("target_type"))
        )

        # invalid-tag warnings: once per unique tag, attributed to the
        # smallest (url, page_no) encounter (deterministic stand-in for
        # the reference's first-encounter attribution, god.py:288-292)
        distinct_tags = xall.groupBy(F.col("completed").alias("tag")).agg(
            F.min(F.struct("url", "page_no")).alias("at")
        )
        distinct_tags = distinct_tags.withColumn("parts", self.tag_parts(F.col("tag")))
        if persist:
            # tiny (one row per unique tag) but feeds 3 outputs: parse
            # each tag once, here, before any write, so no entity plan
            # evaluates Python (a lazy persist() would run the UDF
            # inside whichever entity write came first)
            distinct_tags = distinct_tags.localCheckpoint(eager=True)
        invalid_errors = distinct_tags.where(F.size("parts") == 0).select(
            F.col("at.url").alias("url"),
            F.col("at.page_no").alias("page_no"),
            F.lit("WARNING").alias("severity"),
            F.concat(F.lit("Tag is invalid: "), F.col("tag")).alias("message"),
        )

        # ---- xtarget <-> aspect relation with sort_order ---------------
        # (W3, reference db_builder/db.py:222-240): aspects per xtarget
        # enumerated in config separator order; empty levels contribute
        # the empty-value aspect; sort_order = position in the flattened
        # enumeration. Derived from distinct_tags (the parts UDF already
        # ran there), so this costs one posexplode, no extra UDF pass.
        empty_sv = "cast(array() as array<struct<sep:string,value:string>>)"

        def _sep_entries(sep: str) -> Column:
            # closure factory, NOT `lambda v, s=sep`: pyspark HOF lambda
            # arity counts default args and would bind s to the index
            def entry(v: Column) -> Column:
                return F.struct(F.lit(sep).alias("sep"), v.alias("value"))

            return F.coalesce(
                F.transform(
                    F.when(
                        F.size(F.try_element_at("parts", F.lit(sep))) == 0,
                        F.array(F.lit("")),
                    ).otherwise(F.try_element_at("parts", F.lit(sep))),
                    entry,
                ),
                F.expr(empty_sv),
            )

        flat_parts = F.flatten(
            F.array(*[_sep_entries(sep) for sep in self.config.separators])
        )
        xtarget_aspects = (
            distinct_tags.where(F.size("parts") > 0)
            .select("tag", F.posexplode(flat_parts).alias("sort_order", "a"))
            .select(
                G.xtarget_guid(F.col("tag")).alias("xtarget_guid"),
                G.aspect_guid(F.col("a.sep"), F.col("a.value")).alias("aspect_guid"),
                "sort_order",
            )
        )

        # ---- aspects ----------------------------------------------------
        # from tags: one aspect per (separator, value); empty levels of
        # the priority slice become (sep, '') (god.py:269-286)
        tag_aspects = (
            distinct_tags.where(F.size("parts") > 0)
            .select(F.explode("parts").alias("sep", "vals"))
            .select(
                "sep",
                F.explode(
                    F.when(F.size("vals") == 0, F.array(F.lit(""))).otherwise(
                        F.col("vals")
                    )
                ).alias("value"),
            )
        )
        parsed = aspect_req.withColumn("p", self.single_aspect(F.col("raw_tag")))
        if persist:
            # feeds errors, aspects and attachments: parsed once, here
            parsed = parsed.localCheckpoint(eager=True)
        aspect_errors = parsed.where(F.col("p.status") != 0).select(
            "url", "page_no", F.lit("WARNING").alias("severity"),
            F.when(
                F.col("p.status") == 1,
                _concat_str(
                    "Failed to create aspect with tag: '", F.col("raw_tag"), "'"
                ),
            )
            .otherwise(
                _concat_str(
                    "Failed to create aspect with tag: '", F.col("raw_tag"),
                    "' - has composite structure",
                )
            )
            .alias("message"),
        )
        ok_aspects = parsed.where(F.col("p.status") == 0).select(
            F.col("p.sep").alias("sep"), F.col("p.value").alias("value"), "attrs"
        )
        aspect_attach = ok_aspects.select(
            G.aspect_guid(F.col("sep"), F.col("value")).alias("object_guid"),
            F.explode("attrs").alias("a"),
        ).select("object_guid", F.col("a.guid").alias("attribute_guid"))

        aspects = (
            tag_aspects.unionByName(ok_aspects.select("sep", "value"))
            .select(
                G.aspect_guid(F.col("sep"), F.col("value")).alias("guid"),
                F.col("sep").alias("separator"),
                "value",
            )
            .dropDuplicates(["guid"])
        )

        # ---- attributes registry + attachments -------------------------
        attributes = (
            attr_pool.select(
                F.explode(
                    F.concat("attrs", "link_attrs", "through_attrs", "loc_attrs")
                ).alias("a")
            )
            .select("a.*")
            .dropDuplicates(["guid"])
        )

        object_attributes = (
            xall.select(
                F.col("guid").alias("object_guid"), F.explode("attrs").alias("a")
            )
            .select("object_guid", F.col("a.guid").alias("attribute_guid"))
            .unionByName(
                linked.select(
                    F.col("link_guid").alias("object_guid"),
                    F.explode("link_attrs").alias("a"),
                ).select("object_guid", F.col("a.guid").alias("attribute_guid"))
            )
            .unionByName(aspect_attach)
            .distinct()
        )

        # ---- lineage -----------------------------------------------------
        lineage = (
            xall.select(
                "url", "page_no", F.col("guid").alias("object_guid"),
                F.lit("xtarget").alias("object_type"),
            )
            .unionByName(
                conn_all.select(
                    "url", "page_no", F.col("conn_guid").alias("object_guid"),
                    F.lit("connection").alias("object_type"),
                )
            )
            .unionByName(
                linked.select(
                    "url", "page_no", F.col("link_guid").alias("object_guid"),
                    F.lit("link").alias("object_type"),
                )
            )
            .distinct()
        )

        errors = (
            handler_errors.unionByName(pin_errors)
            .unionByName(tag_errors)
            .unionByName(invalid_errors)
            .unionByName(aspect_errors)
        )
        if persist:
            # the only entity union with no exchange before its write:
            # it would run one write task per partition of each of its
            # five children
            errors = errors.coalesce(n)

        return {
            "xtargets": xtargets,
            "xtarget_aspects": xtarget_aspects,
            "aspects": aspects,
            "connections": connections,
            "links": links,
            "pins": pins,
            "attributes": attributes,
            "object_attributes": object_attributes,
            "lineage": lineage,
            "errors": errors,
        }


def assemble(rows: DataFrame, config: AspectsConfig = DEFAULT_ASPECTS) -> dict[str, DataFrame]:
    return Assembler(config).assemble(rows)
