"""Search surface: query string -> Catalyst predicates via a generic
schema-driven path walk.

Re-expresses the reference's Lark grammar + linear index scan
(/root/reference/src/indu_doc/lark_parser.py:45-67 search_grammar,
searcher.py:147-246 partial-match + _check_path_match) as a driver-side
parse that compiles to ``df.filter(...)`` over nested-struct indexes
mirroring the entities' ``to_dict()`` projections (xtarget.py:200-215,
connection.py:271-287,398-411) — a full scan with a pushable predicate
instead of an in-memory dict loop.

Grammar (lark_parser.py:45-67):
    query  := TAGWORD? ('@' dotted ('(' param ')')? ('=' value)?)*
    value  := VALUE_TEXT | '(' VALUE_TEXT? ')'
    TAGWORD = /([=+\\-.][A-Za-z0-9_]+)+/

Path-walk semantics preserved (searcher.py:211-246):
- an unknown field at any step matches nothing;
- a list at any step applies the REMAINING path with any-semantics;
- a dict leaf + (param) looks the param up as a key; a list leaf +
  (param) matches any item carrying the param;
- a filter with no value just requires the path to resolve (compiled
  as non-null containers along the way);
- every text comparison is normalized-substring (__partial_match).

Any field added to the index schema becomes searchable automatically —
there is no path whitelist.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StringType, StructType

from ..functions import guids as G
from ..kernels.tokens import collapse_tokens
from ..plans.cache import register_cache
from .textstats import norm_text

_TAGWORD = re.compile(r"^([=+\-.][A-Za-z0-9_]+)+")
_FILTER = re.compile(
    r"@(?P<path>[^=.\s()@]+(?:\.[^=.\s()@]+)*)"
    r"(?:\((?P<param>[^)]*)\))?"
    r"(?:=(?:\s*\((?P<pvalue>[^)]*)\)|(?P<value>[^@]*)))?"
)

ATTR_MAP_T = "map<string,string>"


@dataclass
class Filter:
    dotted_path: list[str]
    dotted_param: str | None
    value: str | None


def run_parser(query: str) -> tuple[str | None, list[Filter]]:
    """Parse 'TAG @a.b(p)=v ...'; parenthesized values '=(v)' accepted
    (lark_parser.py:54,140-148: empty '()' yields the empty string).

    Param rule (lark_parser.py:118-138 dotted_name transformer): with
    no '(param)', the LAST dotted component becomes the param —
    '@src.tag=x' parses as path=['src'], param='tag'."""
    query = query.strip()
    tag = None
    m = _TAGWORD.match(query)
    if m:
        tag = m.group(0)
        query = query[m.end():]
    filters = []
    for f in _FILTER.finditer(query):
        if f.group("pvalue") is not None:
            value = f.group("pvalue").strip()
        elif f.group("value") is not None:
            value = f.group("value").strip()
        else:
            value = None
        path = f.group("path").split(".")
        param = f.group("param")
        if param is None and len(path) > 1:
            param = path[-1]
            path = path[:-1]
        filters.append(Filter(path, param, value))
    return tag, filters


def _norm_lit(s: str) -> str:
    """``norm_text`` of a query literal: the collapse contract's Python
    twin, so a literal holding U+00A0, U+3000 or U+001C still matches
    the column it is compared with (``str.strip()``/``str.split()``
    would drop them)."""
    return " ".join(collapse_tokens(s))


def _partial(col: Column, q: str) -> Column:
    """__partial_match (searcher.py:147-160): normalized substring."""
    return norm_text(col).contains(F.lit(_norm_lit(q)))


# ---------------------------------------------------------------------------
# index construction (to_dict projections)
# ---------------------------------------------------------------------------


def _repr_list(arr: Column) -> Column:
    """Python str(list-of-str) rendering, matching the reference's
    str(current) over a tracks list in _check_path_match."""
    return F.when(F.size(arr) == 0, F.lit("[]")).otherwise(
        F.concat(F.lit("['"), F.array_join(arr, "', '"), F.lit("']"))
    )


def attr_search_map(tables: dict[str, DataFrame]) -> DataFrame:
    """(object_guid, attributes map<string,string>): the union of every
    attribute's get_search_entries() (attributes.py:194-201 SIMPLE
    normalized name->value; :315-322 ROUTING 'tracks'->list; :431-438
    PLC raw meta; :559-568 PDF_LOCATION unsearchable).

    Duplicate keys resolve to max(value) — a deterministic stand-in for
    the reference's dict.update last-wins over unordered attributes."""
    a = tables["object_attributes"].join(
        tables["attributes"].withColumnRenamed("guid", "attribute_guid"),
        "attribute_guid",
    )
    simple = a.where(F.col("type") == "SIMPLE").select(
        "object_guid",
        norm_text(F.col("name")).alias("k"),
        norm_text(F.get_json_object("value_json", "$.value")).alias("v"),
    )
    tracks = a.where(F.col("type") == "ROUTING_TRACKS").select(
        "object_guid",
        F.lit("tracks").alias("k"),
        _repr_list(
            F.from_json("value_json", "struct<tracks:array<string>>")["tracks"]
        ).alias("v"),
    )
    plc = (
        a.where(F.col("type") == "PLC_ADDRESS")
        .select(
            "object_guid",
            F.explode(
                F.from_json("value_json", "struct<meta:map<string,string>>")["meta"]
            ).alias("k", "v"),
        )
    )
    entries = simple.unionByName(tracks).unionByName(plc)
    return (
        entries.groupBy("object_guid", "k")
        .agg(F.max("v").alias("v"))
        .groupBy("object_guid")
        .agg(F.map_from_entries(F.collect_list(F.struct("k", "v"))).alias("attributes"))
    )


def build_target_index(
    tables: dict[str, DataFrame], cache: list | None = None
) -> DataFrame:
    """xtarget.to_dict() projection (xtarget.py:200-215):
    (tag, guid, type, attributes).

    The attribute map is persisted (plans/cache contract): it is the
    join input of every index consumer, and leaving it lazy re-derives
    its join+groupBy subtree under each one — measured 50s -> 4s for
    one search at sf0.01 when shared. A session that builds indexes
    REPEATEDLY must pass ``cache`` and unpersist the handles
    (plans.cache.temp_caches); the None default deliberately keeps the
    map warm for the build-once-search-many lifecycle."""
    amap = register_cache(attr_search_map(tables), cache)
    return (
        tables["xtargets"]
        .join(amap, tables["xtargets"].guid == amap.object_guid, "left")
        .select(
            norm_text(F.col("tag")).alias("tag"),
            "guid",
            norm_text(F.col("target_type")).alias("type"),
            F.coalesce("attributes", F.expr(f"cast(map() as {ATTR_MAP_T})")).alias(
                "attributes"
            ),
        )
    )


def build_connection_index(
    tables: dict[str, DataFrame], cache: list | None = None
) -> DataFrame:
    """connection.to_dict() projection plus the special top-level
    tag/src/dest fields (searcher.py:129-145, connection.py:398-411):
    nested src/dest/through target dicts and the links list with pins
    (recursive pin name = concatenated chain, connection.py:108-115).

    The attribute map is persisted (plans/cache contract): it feeds
    the three role joins AND the link-attribute join; lazy, each of
    those re-executes the full amap subtree — measured 50s -> 4s per
    search at sf0.01 when shared. Pass ``cache`` and unpersist when
    building indexes repeatedly in one session (see
    build_target_index)."""
    amap = register_cache(attr_search_map(tables), cache)
    xt = (
        tables["xtargets"]
        .join(amap, tables["xtargets"].guid == amap.object_guid, "left")
        .select(
            F.col("guid").alias("xguid"),
            F.col("tag").alias("raw_tag"),
            norm_text(F.col("tag")).alias("tag"),
            norm_text(F.col("target_type")).alias("type"),
            F.coalesce("attributes", F.expr(f"cast(map() as {ATTR_MAP_T})")).alias(
                "attributes"
            ),
        )
    )

    def role(conns: DataFrame, role_col: str, out: str) -> DataFrame:
        j = conns.join(xt, F.col(role_col) == F.col("xguid"), "left")
        tgt = F.when(
            F.col("xguid").isNotNull(),
            F.struct(
                F.col("tag").alias("tag"),
                F.col("xguid").alias("guid"),
                F.col("type").alias("type"),
                F.col("attributes").alias("attributes"),
            ),
        )
        raw = F.coalesce(F.col("raw_tag"), F.lit(""))
        return j.withColumn(out, tgt).withColumn(f"{out}_rawtag", raw).drop(
            "xguid", "raw_tag", "tag", "type", "attributes"
        )

    conns = tables["connections"]
    conns = role(conns, "src_guid", "src_target")
    conns = role(conns, "dst_guid", "dest_target")
    conns = role(conns, "through_guid", "through_target")

    # recursive pin name (connection.py:108-115) = the chain names
    # concatenated, rebuilt from the links' ':'-joined pin columns
    link_amap = amap.withColumnRenamed("object_guid", "lguid").withColumnRenamed(
        "attributes", "link_attributes"
    )
    lk = tables["links"].join(
        link_amap, F.col("guid") == F.col("lguid"), "left"
    )

    def pin_struct(pin_col: str, role_name: str) -> Column:
        names = F.slice(F.split(F.col(pin_col), ":"), 2, 100000)
        top = F.expr(G.sql_top_pin(pin_col, role_name, "guid"))
        return F.struct(
            F.array_join(names, "").alias("name"),
            F.lit(role_name).alias("role"),
            F.expr(f"cast(map() as {ATTR_MAP_T})").alias("attributes"),
            top["guid"].alias("guid"),
        )

    links = lk.select(
        "connection_guid",
        F.struct(
            F.col("name").alias("name"),
            pin_struct("src_pin_name", "src").alias("src_pin"),
            pin_struct("dest_pin_name", "dst").alias("dest_pin"),
            F.coalesce(
                "link_attributes", F.expr(f"cast(map() as {ATTR_MAP_T})")
            ).alias("attributes"),
            F.col("guid").alias("guid"),
        ).alias("l"),
    ).groupBy("connection_guid").agg(
        F.array_sort(
            F.collect_list("l"),
            # struct holds maps (unorderable for sort_array): compare guids
            lambda l, r: F.when(l["guid"] < r["guid"], -1)
            .when(l["guid"] > r["guid"], 1)
            .otherwise(0),
        ).alias("links")
    )

    out = conns.join(links, conns.guid == links.connection_guid, "left").select(
        conns.guid.alias("guid"),
        F.col("through_target_rawtag").alias("tag"),
        F.col("src_target_rawtag").alias("src"),
        F.col("dest_target_rawtag").alias("dest"),
        "src_target",
        "dest_target",
        "through_target",
        F.coalesce(
            "links",
            F.expr(
                "cast(array() as array<struct<"
                "name:string,"
                f"src_pin:struct<name:string,role:string,attributes:{ATTR_MAP_T},guid:string>,"
                f"dest_pin:struct<name:string,role:string,attributes:{ATTR_MAP_T},guid:string>,"
                f"attributes:{ATTR_MAP_T},guid:string>>)"
            ),
        ).alias("links"),
    )
    return out


# ---------------------------------------------------------------------------
# the generic path-walk compiler
# ---------------------------------------------------------------------------


def _py_repr(col: Column, dtype: DataType) -> Column:
    """Python ``repr`` rendering for values NESTED inside a container
    (the reference's str(dict/list) in _check_path_match quotes inner
    strings with single quotes and renders missing values as None —
    JSON rendering would use double quotes and null)."""
    if isinstance(dtype, StringType):
        rendered = F.concat(F.lit("'"), col, F.lit("'"))
    elif isinstance(dtype, ArrayType):
        rendered = F.concat(
            F.lit("["),
            F.array_join(
                F.transform(col, lambda e: _py_repr(e, dtype.elementType)), ", "
            ),
            F.lit("]"),
        )
    elif isinstance(dtype, MapType):
        rendered = F.concat(
            F.lit("{"),
            F.array_join(
                F.transform(
                    F.map_entries(col),
                    lambda e: F.concat(
                        _py_repr(e["key"], dtype.keyType),
                        F.lit(": "),
                        _py_repr(e["value"], dtype.valueType),
                    ),
                ),
                ", ",
            ),
            F.lit("}"),
        )
    elif isinstance(dtype, StructType):
        parts: list[Column] = []
        for i, f_ in enumerate(dtype.fields):
            if i:
                parts.append(F.lit(", "))
            parts.append(F.lit(f"'{f_.name}': "))
            parts.append(_py_repr(col[f_.name], f_.dataType))
        # field-name literals would make concat non-null even for a NULL
        # struct (its fields coalesce to 'None'); gate on the struct
        # itself so str(None) == 'None' like the reference
        rendered = F.when(
            col.isNotNull(), F.concat(F.lit("{"), *parts, F.lit("}"))
        )
    else:
        rendered = col.cast("string")
    # nested None renders as the 4 chars 'None' (unquoted), like Python
    return F.coalesce(rendered, F.lit("None"))


def _str_col(col: Column, dtype: DataType) -> Column:
    """str(current) for the final partial match. Containers render with
    Python repr (single quotes / None), mirroring the reference's
    str(dict/list); a bare leaf string stays unquoted like str(str)."""
    if isinstance(dtype, StringType):
        return col
    if isinstance(dtype, ArrayType) and isinstance(dtype.elementType, StringType):
        return _repr_list(col)
    if isinstance(dtype, (StructType, MapType, ArrayType)):
        return _py_repr(col, dtype)
    return col.cast("string")


def _match_or_none(col: Column, dtype: DataType, value: str) -> Column:
    """__partial_match(str(current), value) where a present-but-null
    leaf stringifies to 'None' (the reference matches str(None))."""
    return _partial(F.coalesce(_str_col(col, dtype), F.lit("None")), value)


def _terminal(col: Column, dtype: DataType, param: str | None, value: str | None) -> Column:
    """The end-of-path checks (searcher.py:229-246). A PRESENT key whose
    value is null is matchable: bare existence passes, and a value
    filter compares against str(None) -> 'none' — only a MISSING key
    fails (ADVICE round 2)."""
    if param is not None:
        pn = _norm_lit(param)
        if isinstance(dtype, MapType):
            # presence of the KEY, not non-nullness of the value
            pred = F.map_contains_key(col, F.lit(pn))
            if value is not None:
                hit = F.try_element_at(col, F.lit(pn))
                pred = pred & _match_or_none(hit, dtype.valueType, value)
            return pred
        if isinstance(dtype, StructType):
            names = {f.name.lower(): f for f in dtype.fields}
            f_ = names.get(pn)
            if f_ is None:
                return F.lit(False)
            # the struct itself must be present (None is not a dict);
            # its field may be null (str(None) matches)
            pred = col.isNotNull()
            if value is not None:
                pred = pred & _match_or_none(col[f_.name], f_.dataType, value)
            return pred
        if isinstance(dtype, ArrayType):
            return F.exists(
                col, lambda e: _terminal(e, dtype.elementType, param, value)
            )
        return F.lit(False)
    if value is not None:
        return _match_or_none(col, dtype, value)
    return F.lit(True)


def compile_path(
    col: Column, dtype: DataType, path: list[str], param: str | None, value: str | None
) -> Column:
    """_check_path_match (searcher.py:211-246) compiled statically
    against the index schema. Unknown fields -> FALSE; lists apply the
    remaining path with any-semantics; stepping into a null container
    fails."""
    if not path:
        return _terminal(col, dtype, param, value)
    head = _norm_lit(path[0])
    if isinstance(dtype, StructType):
        names = {f.name.lower(): f for f in dtype.fields}
        f_ = names.get(head)
        if f_ is None:
            return F.lit(False)
        return col.isNotNull() & compile_path(
            col[f_.name], f_.dataType, path[1:], param, value
        )
    if isinstance(dtype, ArrayType):
        return F.exists(
            col, lambda e: compile_path(e, dtype.elementType, path, param, value)
        )
    if isinstance(dtype, MapType):
        # key presence, not value non-nullness: a present key with a
        # null value still matches when the path ENDS here (the
        # reference walks into None and the terminal treats it as
        # str(None)); deeper path steps on the null fail naturally
        hit = F.try_element_at(col, F.lit(head))
        return F.map_contains_key(col, F.lit(head)) & compile_path(
            hit, dtype.valueType, path[1:], param, value
        )
    return F.lit(False)


def _row_pred(index: DataFrame, filters: list[Filter]) -> Column:
    schema = index.schema
    top = StructType(schema.fields)
    pred = F.lit(True)
    for f in filters:
        head = _norm_lit(f.dotted_path[0])
        names = {fl.name.lower(): fl for fl in top.fields}
        fl = names.get(head)
        if fl is None:
            pred = pred & F.lit(False)
            continue
        pred = pred & compile_path(
            F.col(fl.name), fl.dataType, f.dotted_path[1:], f.dotted_param, f.value
        )
    return pred


def search_targets(index: DataFrame, query: str) -> DataFrame:
    """Matching target guids (searcher.py:162-184)."""
    tag, filters = run_parser(query)
    pred = F.lit(True)
    if tag:
        pred = pred & _partial(F.col("tag"), tag)
    return index.where(pred & _row_pred(index, filters)).select("guid")


def search_connections(index: DataFrame, query: str) -> DataFrame:
    """Matching connection guids (searcher.py:187-209)."""
    tag, filters = run_parser(query)
    pred = F.lit(True)
    if tag:
        pred = pred & _partial(F.col("tag"), tag)
    return index.where(pred & _row_pred(index, filters)).select("guid")


# ---------------------------------------------------------------------------
# search guide trees (searcher.py:19-69 _merge_search_tree,
# :248-266 create_*_search_guide_tree)
# ---------------------------------------------------------------------------


def _distinct_keys(index: DataFrame, col: Column) -> list[str]:
    return sorted(
        r.k
        for r in index.select(F.explode(F.map_keys(col)).alias("k")).distinct().collect()
        if r.k is not None
    )


def target_search_guide_tree(index: DataFrame) -> dict:
    """Field-suggestion tree over the target index: the distributed
    aggregation collects only the (tiny) distinct attribute key space;
    tree shape mirrors _merge_search_tree output."""
    keys = _distinct_keys(index, F.col("attributes"))
    return {
        "tag": {"__filters__": {"@tag"}},
        "guid": {"__filters__": {"@guid"}},
        "type": {"__filters__": {"@type"}},
        "attributes": {k: {"__filters__": {f"@attributes({k})"}} for k in keys},
    }


def connection_search_guide_tree(index: DataFrame) -> dict:
    """Connection-side guide tree (searcher.py:258-266), including the
    '[list items]' branch for links with per-link name displays and the
    nested pin/attribute paths."""

    def target_branch(prefix: str, attr_keys: list[str], ever_null: bool) -> dict:
        b: dict = {
            "tag": {"__filters__": {f"@{prefix}(tag)"}},
            "guid": {"__filters__": {f"@{prefix}(guid)"}},
            "type": {"__filters__": {f"@{prefix}(type)"}},
            "attributes": {
                k: {"__filters__": {f"@{prefix}.attributes({k})"}} for k in attr_keys
            },
        }
        if ever_null:
            b.setdefault("__filters__", set()).add(f"@{prefix}")
        return b

    stats = index.agg(
        F.sum(F.when(F.col("src_target").isNull(), 1).otherwise(0)).alias("n_src_null"),
        F.sum(F.when(F.col("dest_target").isNull(), 1).otherwise(0)).alias("n_dst_null"),
        F.sum(F.when(F.col("through_target").isNull(), 1).otherwise(0)).alias(
            "n_thr_null"
        ),
    ).collect()[0]
    role_keys = {
        r_: _distinct_keys(index, F.col(r_)["attributes"])
        for r_ in ("src_target", "dest_target", "through_target")
    }
    link_names = sorted(
        r.n
        for r in index.select(F.explode("links").alias("l"))
        .select(F.trim(F.col("l.name")).alias("n"))
        .distinct()
        .collect()
        if r.n
    )
    link_attr_keys = sorted(
        r.k
        for r in index.select(F.explode("links").alias("l"))
        .select(F.explode(F.map_keys(F.col("l.attributes"))).alias("k"))
        .distinct()
        .collect()
    )
    list_branch: dict = {
        "__filters__": {f"@links({n})" for n in link_names},
        "name": {"__filters__": {"@links(name)"}},
        "guid": {"__filters__": {"@links(guid)"}},
        "attributes": {
            k: {"__filters__": {f"@links.attributes({k})"}} for k in link_attr_keys
        },
        "src_pin": {
            "name": {"__filters__": {"@links.src_pin(name)"}},
            "role": {"__filters__": {"@links.src_pin(role)"}},
            "guid": {"__filters__": {"@links.src_pin(guid)"}},
            "attributes": {},
        },
        "dest_pin": {
            "name": {"__filters__": {"@links.dest_pin(name)"}},
            "role": {"__filters__": {"@links.dest_pin(role)"}},
            "guid": {"__filters__": {"@links.dest_pin(guid)"}},
            "attributes": {},
        },
    }
    return {
        "tag": {"__filters__": {"@tag"}},
        "src": {"__filters__": {"@src"}},
        "dest": {"__filters__": {"@dest"}},
        "guid": {"__filters__": {"@guid"}},
        "src_target": target_branch("src_target", role_keys["src_target"], stats.n_src_null > 0),
        "dest_target": target_branch(
            "dest_target", role_keys["dest_target"], stats.n_dst_null > 0
        ),
        "through_target": target_branch(
            "through_target", role_keys["through_target"], stats.n_thr_null > 0
        ),
        "links": {"[list items]": list_branch},
    }
