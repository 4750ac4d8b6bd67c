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
  columns) and parse them with the SQL-text tag grammar of
  functions/tags.py — no Python is evaluated here at all,
- compute every GUID as a native md5 expression (F8 — join
  elimination: FK assignment never joins, both sides hash),
- finalize with groupBy(guid) merges: max type priority (A4),
  first-wins entities (A1,A5-A8), set-union attachments (A3,A6).

The request branches and the finishers (``finish``) are SQL text built
by plain Python: the nine branches reach the JVM as one ``spark.sql``
statement, the finishers as ``selectExpr``/``where`` applications. The
text interpolates constants only — column names, map-key and message
literals — never row data.

Dedup-by-GUID replaces dedup-on-create; Catalyst plans partial/final
hash aggregation (the reference's sub_god merge, A9) automatically.

The pure-Python oracle (kernels/assemble.py) defines expected results;
tests/test_assembly.py verifies set-equality of every output table.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ASPECTS, AspectsConfig
from ..functions import guids as G
from ..functions.tags import _q, sql_flat_parts, sql_single_aspect, sql_tag_parts
from ..plans.cache import register_cache, release_local_checkpoint

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

# -- request-layer SQL text (constants only, never row data) -----------


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


def _fmt(template: str, *exprs: str) -> str:
    """concat() of a constant ``template`` whose '{}' holes take
    ``exprs`` in order."""
    pieces = template.split("{}")
    parts = [_q(pieces[0])] if pieces[0] else []
    for e, lit in zip(exprs, pieces[1:]):
        parts += [e] + ([_q(lit)] if lit else [])
    return f"concat({', '.join(parts)})"


def _skipped(bad: str, ok: str, what: str, *exprs: str) -> str:
    """``ok`` unless ``bad``; then one error request 'row #N skipped: '
    + ``what``, whose '{}' holes take ``exprs`` in order."""
    err = _req("error", message=_fmt("row #{} skipped: " + what, "row_idx", *exprs))
    return f"CASE WHEN {bad} THEN array({err}) ELSE {ok} END"


# -- finisher SQL text ---------------------------------------------------


def _tag_of(pin_tag: str) -> str:
    """'TAG:PIN1:PIN2' -> 'TAG' (the whole value when it has no ':')."""
    pos = f"instr({pin_tag}, ':')"
    return f"CASE WHEN {pos} > 0 THEN substring({pin_tag}, 1, {pos} - 1) ELSE {pin_tag} END"


def _pins_of(pin_tag: str) -> str:
    """'TAG:PIN1:PIN2' -> ':PIN1:PIN2' (NULL when it has no ':')."""
    pos = f"instr({pin_tag}, ':')"
    return f"CASE WHEN {pos} > 0 THEN substr({pin_tag}, {pos}) END"


def _completed(raw: str, completed: str) -> str:
    """The kernel-completed tag, NULL for a NULL raw tag or a pin tag
    (create_xtarget returns None for tags containing ':',
    god.py:351-354)."""
    return f"CASE WHEN {raw} IS NULL OR contains({raw}, ':') THEN NULL ELSE {completed} END"


# max type priority (A4) as a number and back
_PRI = (
    "CASE "
    + " ".join(f"WHEN target_type = {_q(t)} THEN {p}" for t, p in TYPE_PRIORITY.items() if p)
    + " ELSE 0 END"
)
_PRI_NAME = (
    "CASE "
    + " ".join(f"WHEN pri = {p} THEN {_q(t)}" for t, p in TYPE_PRIORITY.items() if p)
    + " ELSE 'other' END"
)


def _warnings(
    df: DataFrame, message: str, url: str = "url", page_no: str = "page_no"
) -> DataFrame:
    """The error-table rows (url, page_no, 'WARNING', message) of ``df``."""
    return df.selectExpr(
        f"{url} AS url", f"{page_no} AS page_no", "'WARNING' AS severity",
        f"{message} AS message",
    )


def _attached(df: DataFrame, object_guid: str, attrs: str) -> DataFrame:
    """(object_guid, attribute_guid) for every attribute in ``attrs``."""
    return df.selectExpr(
        f"{object_guid} AS object_guid", f"explode({attrs}) AS a"
    ).selectExpr("object_guid", "a.guid AS attribute_guid")


def _union(*dfs: DataFrame) -> DataFrame:
    return reduce(DataFrame.unionByName, dfs)


class Assembler:
    """Builds the entity tables from a normalized rows DataFrame
    (operators/extraction.rows_table output)."""

    def __init__(self, config: AspectsConfig = DEFAULT_ASPECTS):
        self.config = config

    # -- per-type request builders (each returns array<request> SQL) ----

    def _pin_to_pin(self, cols: str, attrs: str, loc: str, what: str) -> str:
        """connection_list and wires_part_list: one linked connection
        between the row's two pin tags, skipped with ``what`` (two '{}'
        holes: the pin tags) when either is empty."""
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
            f"({tag_src} = '' OR {tag_dst} = '')", f"array({ok})", what, tag_src, tag_dst
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
            req = self._pin_to_pin(
                "cols", "_attrs", "_loc_a",
                "one/both of the connection targets are empty (is that intended?): `{}` `{}`",
            )
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
            req = self._pin_to_pin(
                "cols", "_attrs", "_loc_a",
                "empty wire connection info (is that intended?): from=`{}` to=`{}`",
            )
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
        """The typed-request stage table: the 9 per-page-type branches
        (filter -> precompute -> request projection -> explode), joined
        with UNION ALL in one ``spark.sql`` statement. At warehouse scale
        this is a real intermediate table (write it, then run ``finish``
        as a separate restartable job).

        Nine small per-type projections, not one CASE over page_type:
        a single projection over all nine handlers compiled to one giant
        janino class (~35s one-time compile, too wide for whole-stage
        codegen); the small ones compile in ~2s each and run codegen'd.
        Each branch re-scans the rows input with a pushable page_type
        filter — at warehouse scale the rows stage table is partitioned
        by page_type, so the 9 scans prune to 1 full pass.

        The precomputed columns of ``_branch_exprs`` are lateral column
        aliases of the request projection; the optimizer keeps them as
        their own projections, so each is evaluated once per row. The
        UNION ALL is positional: ``_req`` emits every struct field in
        the same order, so ``r.*`` lines up across branches.

        explode_outer + ``r IS NOT NULL`` instead of a bare explode: the
        non-outer Generate plants an implicit ``size(reqs)>0`` filter
        that the optimizer pushes BELOW the request projection by
        substitution — re-evaluating the entire (interpreted, HOF-laden)
        request expression once more per input row (guide §4.4's
        duplication, measured 2.8-4.4x per branch). Equivalent output:
        request elements are constructed structs (never NULL), and for
        a NULL/empty array both forms drop the row (outer emits r=NULL
        which the filter removes)."""

        def esc(text: str) -> str:
            # spark.sql formats the whole text: a brace must stay a brace
            return text.replace("{", "{{").replace("}", "}}")

        branches = []
        for page_type in self.HANDLED_PAGE_TYPES:
            pre, req = self._branch_exprs(page_type)
            items = ", ".join(["*", *(f"{e} AS {n}" for n, e in pre), f"{req} AS reqs"])
            branches.append(
                "SELECT url, page_no, footer_tags, r.* FROM"
                " (SELECT url, page_no, footer_tags, explode_outer(reqs) AS r FROM"
                f" (SELECT {esc(items)} FROM {{rows}} WHERE page_type = {esc(_q(page_type))}))"
                " WHERE r IS NOT NULL"
            )
        return rows.sparkSession.sql(" UNION ALL ".join(branches), rows=rows)

    def assemble(self, rows: DataFrame, cache: list | None = None) -> dict[str, DataFrame]:
        """Materializes the rows input and the exploded requests once
        (eager localCheckpoints) before any output is written, and
        hands the checkpointed requests to ``finish``, which also serves
        a requests table built elsewhere (e.g. read back from parquet).
        At warehouse scale the same role is played by materializing
        stage tables.

        ``cache`` follows the plans.cache contract: pass a list to
        receive the conn_all/xall/distinct_tags caches and release them
        (``temp_caches``) once the tables are written.
        The requests checkpoint is not handed over: it is the table
        ``finish`` received, which callers may still read."""
        # materialize the branch INPUT once (guide §2.4 "two
        # operations keyed the same way can share one pass"): the
        # nine per-type branches each re-run the upstream
        # scan+explode+project otherwise — 9 full parquet decodes of
        # the extracted table per assemble. One narrow eager
        # localCheckpoint of the 7 needed columns turns that into
        # 1 decode + 9 in-memory scans (measured ~2x on the request
        # stage at sf1.0). At warehouse scale the equivalent is the
        # page_type-partitioned rows stage table requests_table's
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
        return self.finish(reqs, cache=cache)

    def finish(self, reqs: DataFrame, cache: list | None = None) -> dict[str, DataFrame]:
        """Entity tables from a (possibly checkpointed/read-back)
        requests stage table — the God-merge finisher layer.

        Every derived frame is SQL text applied with ``selectExpr`` /
        ``where`` (constants only, never row data), so building the
        plans costs a few hundred JVM round trips, and no plan evaluates
        Python. conn_all/xall/distinct_tags are coalesced and lazily
        persisted, each handle handed to ``cache`` when given (plans.cache
        contract); the errors union is coalesced. Building submits no
        Spark job."""
        n = reqs.sparkSession.sparkContext.defaultParallelism

        def kind(k: str) -> DataFrame:
            return reqs.where(f"kind = {_q(k)}")

        # ---- create_connection_with_link guards (god.py:507-533) ----
        cwl = kind("cwl").selectExpr(
            "url", "page_no", "footer_tags", "through_tag", "through_tag_c",
            f"{_tag_of('src_pin_tag')} AS src_tag",
            f"{_tag_of('src_pin_tag_c')} AS src_tag_c",
            f"{_tag_of('dst_pin_tag')} AS dst_tag",
            f"{_tag_of('dst_pin_tag_c')} AS dst_tag_c",
            f"{_pins_of('src_pin_tag')} AS src_pin",
            f"{_pins_of('dst_pin_tag')} AS dst_pin",
            "loc_attrs", "link_attrs",
        )
        no_pins = "src_pin IS NULL OR src_pin = '' OR dst_pin IS NULL OR dst_pin = ''"
        pin_errors = _warnings(
            cwl.where(no_pins),
            _fmt(
                "Linked connection where one/no pins specified: `{}` `{}`",
                "coalesce(src_pin, 'None')", "coalesce(dst_pin, 'None')",
            ),
        )
        cwl = cwl.where(f"NOT ({no_pins})")
        no_tags = "src_tag = '' OR dst_tag = ''"
        tag_errors = _warnings(
            cwl.where(no_tags),
            _fmt("Linked connection where one/no targets specified: `{}` `{}`",
                 "src_tag", "dst_tag"),
        )
        cwl = cwl.where(f"NOT ({no_tags})")

        # ---- connections (both paths) --------------------------------
        # an empty through tag is no through tag ('' is falsy in
        # god.py:484-489)
        conn_cols = (
            "url", "page_no", "footer_tags", "nullif(through_tag, '') AS through_tag",
            "through_tag_c", "src_tag", "src_tag_c", "dst_tag", "dst_tag_c",
        )
        conn_all = cwl.selectExpr(
            *conn_cols, "loc_attrs AS through_attrs", "loc_attrs",
            "src_pin", "dst_pin", "link_attrs", "true AS with_link",
        ).unionByName(kind("conn").selectExpr(
            *conn_cols, "through_attrs", "loc_attrs",
            "CAST(NULL AS STRING) AS src_pin", "CAST(NULL AS STRING) AS dst_pin",
            f"{EMPTY_ATTRS} AS link_attrs", "false AS with_link",
        ))
        # completed tags come from the extraction kernel ('_c:' columns).
        # One projection per dependency level, so the text repeats no
        # expression (each role GUID feeds conn_guid)
        roles = ("through", "src", "dst")
        conn_all = conn_all.selectExpr("*", *[
            f"{_completed(f'{r}_tag', f'{r}_tag_c')} AS {r}_completed" for r in roles
        ]).selectExpr("*", *[
            f"{G.sql_xtarget_guid(f'{r}_completed')} AS {r}_guid" for r in roles
        ])
        conn_all = conn_all.selectExpr(
            "*", f"{G.sql_connection_guid('src_guid', 'dst_guid', 'through_guid')} AS conn_guid"
        )
        # feeds connections, links, pins, xtargets (3 roles), lineage
        # (plan is small once reqs is checkpointed -> lazy cache).
        # coalesce first, for the reason reqs is coalesced: the
        # union keeps both children's partitions, the cache freezes
        # that count, and every consumer scan would fan out into it
        conn_all = register_cache(conn_all.coalesce(n), cache)

        connections = conn_all.selectExpr(
            "conn_guid AS guid", "src_guid", "dst_guid", "through_guid"
        ).dropDuplicates(["guid"])

        # ---- links + pins --------------------------------------------
        link_name = "coalesce(through_tag, 'virtual_link')"
        linked = conn_all.where("with_link").selectExpr(
            "*", f"{link_name} AS link_name",
            f"{G.sql_link_guid(link_name, 'src_pin', 'dst_pin', 'conn_guid')} AS link_guid",
        )
        links = linked.selectExpr(
            "link_guid AS guid", "link_name AS name", "conn_guid AS connection_guid",
            "src_pin AS src_pin_name", "dst_pin AS dest_pin_name",
        ).dropDuplicates(["guid"])

        # explode_outer + isNotNull (not bare explode): the implicit
        # size()>0 filter of a non-outer Generate is pushed below the
        # projection and re-runs BOTH pin-chain md5 folds per row
        # (guide §4.4 duplication — same fix as the branch explode).
        # Chain elements are array_append'ed structs, never NULL.
        chains = (
            f"concat({G.sql_pin_chain('src_pin', 'src', 'link_guid')},"
            f" {G.sql_pin_chain('dst_pin', 'dst', 'link_guid')})"
        )
        pins = (
            linked.selectExpr(f"explode_outer({chains}) AS p")
            .where("p IS NOT NULL")
            .selectExpr("p.*")
            .dropDuplicates(["guid"])
        )

        # ---- xtargets -------------------------------------------------
        x_cols = ("url", "page_no", "footer_tags")
        xall = _union(
            kind("xreq").selectExpr(
                *x_cols, f"{_completed('raw_tag', 'raw_tag_c')} AS completed",
                "target_type", "attrs",
            ).where("completed IS NOT NULL"),
            *[
                conn_all.where(f"{role}_completed IS NOT NULL").selectExpr(
                    *x_cols, f"{role}_completed AS completed",
                    f"{_q(ttype)} AS target_type", f"{attrs} AS attrs",
                )
                for role, ttype, attrs in (
                    ("through", "cable", "through_attrs"),
                    ("src", "device", "loc_attrs"),
                    ("dst", "device", "loc_attrs"),
                )
            ],
        ).selectExpr("*", f"{G.sql_xtarget_guid('completed')} AS guid")
        # feeds xtargets, distinct_tags, attachments, lineage; a
        # 4-child union, coalesced before caching like conn_all
        xall = register_cache(xall.coalesce(n), cache)

        xtargets = (
            xall.groupBy("guid")
            .agg(F.expr("first(completed) AS tag"), F.expr(f"max({_PRI}) AS pri"))
            .selectExpr("guid", "tag", f"{_PRI_NAME} AS target_type")
        )

        # invalid-tag warnings: once per unique tag, attributed to the
        # smallest (url, page_no) encounter (deterministic stand-in for
        # the reference's first-encounter attribution, god.py:288-292)
        distinct_tags = (
            xall.selectExpr("completed AS tag", "url", "page_no")
            .groupBy("tag")
            .agg(F.expr("min(struct(url, page_no)) AS at"))
            .selectExpr("*", f"{sql_tag_parts('tag', self.config)} AS parts")
        )
        # tiny (one row per unique tag) but feeds 3 outputs
        distinct_tags = register_cache(distinct_tags.coalesce(n), cache)
        invalid_errors = _warnings(
            distinct_tags.where("size(parts) = 0"),
            _fmt("Tag is invalid: {}", "tag"), url="at.url", page_no="at.page_no",
        )
        parsed_tags = distinct_tags.where("size(parts) > 0")

        # ---- xtarget <-> aspect relation with sort_order ---------------
        # (W3, reference db_builder/db.py:222-240): aspects per xtarget
        # enumerated in config separator order; empty levels contribute
        # the empty-value aspect; sort_order = position in the flattened
        # enumeration. Derived from distinct_tags' parts, so this costs
        # one posexplode.
        flat_parts = sql_flat_parts("parts", self.config.separators)
        xtarget_aspects = parsed_tags.selectExpr(
            "tag", f"posexplode({flat_parts}) AS (sort_order, a)"
        ).selectExpr(
            f"{G.sql_xtarget_guid('tag')} AS xtarget_guid",
            f"{G.sql_aspect_guid('a.sep', 'a.value')} AS aspect_guid",
            "sort_order",
        )

        # ---- aspects ----------------------------------------------------
        # from tags: one aspect per (separator, value); empty levels of
        # the priority slice become (sep, '') (god.py:269-286)
        tag_aspects = parsed_tags.selectExpr("explode(parts) AS (sep, vals)").selectExpr(
            "sep", "explode(CASE WHEN size(vals) = 0 THEN array('') ELSE vals END) AS value"
        )
        parsed = kind("aspect").selectExpr(
            "*", f"{sql_single_aspect('raw_tag', self.config.separators)} AS p"
        )
        failed = "Failed to create aspect with tag: '{}'"
        aspect_errors = _warnings(
            parsed.where("p.status != 0"),
            f"CASE WHEN p.status = 1 THEN {_fmt(failed, 'raw_tag')}"
            f" ELSE {_fmt(failed + ' - has composite structure', 'raw_tag')} END",
        )
        ok_aspects = parsed.where("p.status = 0").selectExpr(
            "p.sep AS sep", "p.value AS value", "attrs"
        )
        aspects = (
            tag_aspects.unionByName(ok_aspects.selectExpr("sep", "value"))
            .selectExpr(
                f"{G.sql_aspect_guid('sep', 'value')} AS guid", "sep AS separator", "value"
            )
            .dropDuplicates(["guid"])
        )

        # ---- attributes registry + attachments -------------------------
        attributes = (
            reqs.selectExpr("explode(concat(attrs, link_attrs, through_attrs, loc_attrs)) AS a")
            .selectExpr("a.*")
            .dropDuplicates(["guid"])
        )
        object_attributes = _union(
            _attached(xall, "guid", "attrs"),
            _attached(linked, "link_guid", "link_attrs"),
            _attached(ok_aspects, G.sql_aspect_guid("sep", "value"), "attrs"),
        ).distinct()

        # ---- lineage -----------------------------------------------------
        lineage = _union(*[
            df.selectExpr("url", "page_no", f"{guid} AS object_guid", f"{_q(t)} AS object_type")
            for df, guid, t in (
                (xall, "guid", "xtarget"),
                (conn_all, "conn_guid", "connection"),
                (linked, "link_guid", "link"),
            )
        ]).distinct()

        # coalesced: the only entity union with no exchange before its
        # write, it would run one write task per partition of each of
        # its five children
        errors = _union(
            _warnings(kind("error"), "message"),
            pin_errors, tag_errors, invalid_errors, aspect_errors,
        ).coalesce(n)

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


def assemble(
    rows: DataFrame, config: AspectsConfig = DEFAULT_ASPECTS, cache: list | None = None
) -> dict[str, DataFrame]:
    return Assembler(config).assemble(rows, cache)
