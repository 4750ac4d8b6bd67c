"""Full AML (AutomationML / CAEX) export.

Re-expresses the reference's AMLBuilder
(/root/reference/src/indu_doc/exporters/aml_builder/aml_builder.py:302-400
process; aml_abstractions.py) Spark-first:

- the per-xtarget payloads (connections-as-InternalConnection on the
  ``through`` target, pins-as-InternalPin on the endpoints,
  InternalLinks wiring the ExternalInterfaces, aml_builder.py:336-376)
  are assembled relationally: links x connections joins, top-of-chain
  pin GUIDs via the native SQL pin-chain fold, payload rows grouped by
  owner target;
- one tree per perspective: the ECAD tree over all config levels plus
  one tree per distinct aspect type (aml_builder.py:382-393), each
  grouped by hierarchy ROOT so every root's subtree serializes
  independently inside a ``mapInPandas`` partition pass (the reference
  builds the whole file in driver memory; here the unit of memory is
  one root's subtree and roots serialize in parallel);
- InternalAspect identity reproduces the reference exactly
  (aml_builder.py:124-145): accumulated md5 GUID over
  {prefix, name, base} then salted per perspective with
  {base, salt}, accumulated BMK, diamondID = aspect content GUID;
- leaf promotion to InternalXTarget happens only in the ECAD tree
  (aml_builder.py:293-298), overriding the node ID with the xtarget
  GUID and emitting [aspect]OrientedReferenceDesignation attributes
  (aml_builder.py:199-232).

Deliberate divergences (documented, deterministic):
- sibling order is sorted (tag / guid), where the reference uses dict
  insertion order (= nondeterministic processing order);
- attribute order within an element is sorted by (name, value); the
  reference iterates an unordered set;
- ROUTING_TRACKS / PLC_ADDRESS values render via Python repr of the
  canonical (sorted) stored form, mirroring the reference's
  str(attr.get_value()) on its in-memory list/dict.
"""

from __future__ import annotations

import io
import json
from typing import Iterator
from xml.sax.saxutils import escape, quoteattr

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.cache import register_cache
from ..config import DEFAULT_ASPECTS, AspectsConfig
from ..functions import guids as G
from ..functions.tags import sql_flat_parts, sql_tag_parts
from ..kernels.tagparse import aspect_guid, md5_uuid

MAIN_TREE_NAME = "ECAD"

_ATTR_T = "array<struct<name:string,type:string,value_json:string>>"
_PAYLOAD_T = (
    "array<struct<kind:string,guid:string,name:string,"
    f"pin_name:string,attrs:{_ATTR_T}>>"
)

FRAGMENT_SCHEMA = (
    "hierarchy string, section int, root string, n_targets int, n_aspects int, "
    "n_connections int, n_pins int, n_links int, xml string"
)


# ---------------------------------------------------------------------------
# relational preparation
# ---------------------------------------------------------------------------


def _attr_rows(tables: dict[str, DataFrame]) -> DataFrame:
    """(object_guid, name, type, value_json), PDF_LOCATION excluded
    (every serializer in aml_builder.py skips PDFLocationAttribute)."""
    return (
        tables["object_attributes"]
        .join(
            tables["attributes"].withColumnRenamed("guid", "attribute_guid"),
            "attribute_guid",
        )
        .where(F.col("type") != "PDF_LOCATION")
        .select("object_guid", "name", "type", "value_json")
    )


def _owner_payloads(tables: dict[str, DataFrame], attr_rows: DataFrame) -> DataFrame:
    """Per-owner-xtarget payload array: InternalConnection rows for the
    ``through`` target, InternalPin rows for the endpoints
    (aml_builder.py:344-359)."""
    cn = tables["connections"].select(
        F.col("guid").alias("connection_guid"), "src_guid", "dst_guid", "through_guid"
    )
    le = tables["links"].join(cn, "connection_guid")
    le = le.withColumn(
        "src_top", F.expr(G.sql_top_pin("src_pin_name", "src", "guid"))
    ).withColumn("dst_top", F.expr(G.sql_top_pin("dest_pin_name", "dst", "guid")))
    link_attrs = attr_rows.groupBy(F.col("object_guid").alias("guid")).agg(
        F.collect_list(F.struct("name", "type", "value_json")).alias("lattrs")
    )
    le = le.join(link_attrs, "guid", "left").withColumn(
        "lattrs", F.coalesce("lattrs", F.expr(f"cast(array() as {_ATTR_T})"))
    )

    empty_attrs = F.expr(f"cast(array() as {_ATTR_T})")
    pin_src, pin_dst = (
        le.where(F.col(f"{role}_guid").isNotNull()).select(
            F.col(f"{role}_guid").alias("owner"),
            F.struct(
                F.lit("pin").alias("kind"),
                F.col(f"{role}_top.guid").alias("guid"),
                F.lit(None).cast("string").alias("name"),
                F.col(f"{role}_top.name").alias("pin_name"),
                empty_attrs.alias("attrs"),
            ).alias("p"),
        )
        for role in ("src", "dst")
    )
    conn = le.where(F.col("through_guid").isNotNull()).select(
        F.col("through_guid").alias("owner"),
        F.struct(
            F.lit("conn").alias("kind"),
            F.col("guid").alias("guid"),
            F.col("name").alias("name"),
            F.lit(None).cast("string").alias("pin_name"),
            F.col("lattrs").alias("attrs"),
        ).alias("p"),
    )
    return (
        pin_src.unionByName(pin_dst)
        .unionByName(conn)
        .groupBy("owner")
        .agg(F.collect_list("p").alias("payloads"))
    )


def internal_links(tables: dict[str, DataFrame]) -> DataFrame:
    """InternalLink endpoint pairs (aml_builder.py:361-376): through a
    cable the wiring is src_pin -> SideA, SideB -> dst_pin; direct
    links wire src_pin -> dst_pin. Returns (ref_a, ref_b, link_guid)."""
    cn = tables["connections"].select(
        F.col("guid").alias("connection_guid"), "through_guid"
    )
    le = tables["links"].join(cn, "connection_guid")
    le = le.withColumn(
        "src_ext",
        F.concat(
            F.expr(G.sql_top_pin("src_pin_name", "src", "guid"))["guid"],
            F.lit(":ConnectionPoint"),
        ),
    ).withColumn(
        "dst_ext",
        F.concat(
            F.expr(G.sql_top_pin("dest_pin_name", "dst", "guid"))["guid"],
            F.lit(":ConnectionPoint"),
        ),
    )
    pair = "struct<ref_a:string,ref_b:string>"
    pairs = F.when(
        F.col("through_guid").isNotNull(),
        F.array(
            F.struct(
                F.col("src_ext").alias("ref_a"),
                F.concat(F.col("guid"), F.lit(":SideA")).alias("ref_b"),
            ),
            F.struct(
                F.concat(F.col("guid"), F.lit(":SideB")).alias("ref_a"),
                F.col("dst_ext").alias("ref_b"),
            ),
        ),
    ).otherwise(
        F.array(
            F.struct(F.col("src_ext").alias("ref_a"), F.col("dst_ext").alias("ref_b"))
        ).cast(f"array<{pair}>")
    )
    return le.select(F.col("guid").alias("link_guid"), F.explode(pairs).alias("pr")).select(
        F.col("pr.ref_a").alias("ref_a"), F.col("pr.ref_b").alias("ref_b"), "link_guid"
    )


# ---------------------------------------------------------------------------
# per-group serializer (pure Python inside mapInPandas)
# ---------------------------------------------------------------------------


def _guid_of(unq: dict) -> str:
    """aml_abstractions.py:103-113 _create_guid: md5 of the sorted-key
    json dump, formatted as a uuid."""
    return md5_uuid(json.dumps(unq, sort_keys=True))


def _attr_value_str(type_: str, value_json: str) -> str:
    """str(attr.get_value()) on the canonical stored form."""
    v = json.loads(value_json)
    if type_ == "SIMPLE":
        return str(v["value"])
    if type_ == "ROUTING_TRACKS":
        return str(list(v["tracks"]))
    if type_ == "PLC_ADDRESS":
        return str(dict(v["meta"]))
    return value_json


def _attr_xml(name: str, value: str) -> str:
    return (
        f"<Attribute Name={quoteattr(name)} AttributeDataType=\"xs:string\">"
        f"<Value>{escape(value)}</Value></Attribute>"
    )


def _lst(v) -> list:
    """None/numpy-array tolerant list coercion (Arrow struct fields
    arrive as numpy arrays whose truthiness is ambiguous)."""
    return [] if v is None else list(v)


def _attrs_xml(attrs) -> list[str]:
    rendered = sorted(
        (a["name"], _attr_value_str(a["type"], a["value_json"])) for a in attrs
    )
    return [_attr_xml(n, v) for n, v in rendered]


class _Node:
    __slots__ = ("aspect_id", "bmk", "children", "target", "xml_open")

    def __init__(self):
        self.aspect_id = None
        self.bmk = ""
        self.children: dict[str, _Node] = {}
        self.target = None
        self.xml_open = ""


def _serialize_group(
    hierarchy: str,
    targets: list,
    aspect_attrs: dict,
    config: AspectsConfig,
    counts: dict,
) -> str:
    """Build one root subtree and serialize it (build_tree +
    InstanceHierarchy.serialize recast per root)."""
    is_ecad = hierarchy == MAIN_TREE_NAME
    sep_aspect = {l.separator: l.aspect for l in config.levels}
    root = _Node()
    root.aspect_id = ""  # base of the accumulation chain is ''

    for t in sorted(targets, key=lambda t: (t["tag"], t["guid"])):
        flat = [(c["sep"], c["value"]) for c in t["flat"]]
        if not flat:
            continue
        current = root
        for sep, value in flat:
            key = f"{sep}{value}"
            if key not in current.children:
                node = _Node()
                # a promoted leaf's deeper children accumulate from the
                # underlying aspect id, not the xtarget guid
                base_id = current.aspect_id
                id0 = _guid_of({"prefix": sep, "name": value, "base": base_id})
                node.aspect_id = _guid_of({"base": id0, "salt": hierarchy})
                node.bmk = current.bmk + key
                attrs_xml = ""
                if is_ecad:
                    attrs_xml = "".join(
                        _attrs_xml(aspect_attrs.get((sep, value), []))
                    )
                node.xml_open = (
                    f"<InternalElement Name={quoteattr(value)} ID=\"{node.aspect_id}\">"
                    f"<SourceObjectInformation OriginID=\"DiamondId\" "
                    f"SourceObjID=\"{aspect_guid(sep, value)}\"/>"
                    + _attr_xml("Prefix", sep)
                    + _attr_xml("BMK", node.bmk)
                    + attrs_xml
                )
                counts["n_aspects"] += 1
                current.children[key] = node
            current = current.children[key]
        if is_ecad:
            # a same-path later target overwrites (reference build_tree
            # current.item = t; the displaced one is never serialized)
            current.target = t

    out: list[str] = []

    def emit(node: _Node):
        for child in node.children.values():
            t = child.target
            if t is None:
                out.append(child.xml_open)
            else:
                counts["n_targets"] += 1
                # InternalXTarget: the base aspect's element with the ID
                # overridden by the xtarget GUID (aml_builder.py:215-245)
                open_tag, rest = child.xml_open.split(">", 1)
                open_tag = open_tag.replace(
                    f'ID="{child.aspect_id}"', f'ID="{t["guid"]}"'
                )
                out.append(open_tag + ">" + rest)
                # [aspect]OrientedReferenceDesignation accumulation
                desig: dict[str, str] = {}
                for c in t["flat"]:
                    a = sep_aspect[c["sep"]].lower()
                    desig[a] = desig.get(a, "") + f"{c['sep']}{c['value']}"
                for a, name in desig.items():
                    out.append(_attr_xml(f"{a}OrientedReferenceDesignation", name))
                out.extend(_attrs_xml(_lst(t["attrs"])))
                payloads = sorted(
                    _lst(t["payloads"]), key=lambda p: (p["kind"], p["guid"])
                )
                for p in payloads:
                    if p["kind"] != "conn":
                        continue
                    out.append(
                        f"<InternalElement Name={quoteattr('Connection ' + p['name'])} "
                        f"ID=\"{p['guid']}\">"
                    )
                    out.extend(_attrs_xml(_lst(p["attrs"])))
                    out.append(
                        f"<ExternalInterface Name=\"SideA\" ID=\"{p['guid']}:SideA\"/>"
                        f"<ExternalInterface Name=\"SideB\" ID=\"{p['guid']}:SideB\"/>"
                        "</InternalElement>"
                    )
                    counts["n_connections"] += 1
                for p in payloads:
                    if p["kind"] != "pin":
                        continue
                    out.append(
                        f"<InternalElement Name={quoteattr('ConnPoint ' + p['pin_name'])} "
                        f"ID=\"{p['guid']}\">"
                        f"<ExternalInterface Name=\"ConnectionPoint\" "
                        f"ID=\"{p['guid']}:ConnectionPoint\"/>"
                        "</InternalElement>"
                    )
                    counts["n_pins"] += 1
            emit(child)
            out.append("</InternalElement>")

    emit(root)
    return "".join(out)


# ---------------------------------------------------------------------------
# the export operator
# ---------------------------------------------------------------------------


def aml_fragments(
    tables: dict[str, DataFrame],
    config: AspectsConfig = DEFAULT_ASPECTS,
    cache: list | None = None,
) -> DataFrame:
    """One fragment row per (hierarchy, root): the serialized subtree
    plus element counts. ``stitch_aml_to`` stitches fragments into the
    complete CAEX document; at warehouse scale the fragments ARE the
    export (one XML document per hierarchy root).
    ``cache`` receives the persisted target-join handle (plans.cache
    contract: caller unpersists after materializing)."""
    attr_rows = _attr_rows(tables)

    tgt = tables["xtargets"].withColumn("parts", F.expr(sql_tag_parts("tag", config)))
    tattrs = attr_rows.groupBy(F.col("object_guid").alias("guid")).agg(
        F.collect_list(F.struct("name", "type", "value_json")).alias("attrs")
    )
    payloads = _owner_payloads(tables, attr_rows)
    tgt = (
        tgt.join(tattrs, "guid", "left")
        .join(payloads.withColumnRenamed("owner", "guid"), "guid", "left")
        .withColumn("attrs", F.coalesce("attrs", F.expr(f"cast(array() as {_ATTR_T})")))
        .withColumn(
            "payloads",
            F.coalesce("payloads", F.expr(f"cast(array() as {_PAYLOAD_T})")),
        )
    )
    # fan-out point: 1 ECAD + N aspect trees + the aspect-attr pass
    # all re-read this join (incl. the pin-chain folds); persist it
    # once — the warehouse-scale equivalent is a stage table write
    tgt = register_cache(tgt, cache)

    # per-hierarchy target rows: ECAD over all levels, one tree per
    # distinct aspect type over its levels (aml_builder.py:384-393)
    trees: list[tuple[str, list[str]]] = [
        (MAIN_TREE_NAME, config.separators)
    ]
    by_aspect: dict[str, list[str]] = {}
    for l in config.levels:
        by_aspect.setdefault(l.aspect.lower(), []).append(l.separator)
    trees += [(a.capitalize(), seps) for a, seps in by_aspect.items()]

    per_tree = []
    for name, seps in trees:
        flat = F.expr(sql_flat_parts("parts", seps))
        rows = (
            tgt.withColumn("flat", flat)
            .where(F.size("flat") > 0)
            .select(
                F.lit(name).alias("hierarchy"),
                F.concat(
                    F.try_element_at("flat", F.lit(1))["sep"],
                    F.try_element_at("flat", F.lit(1))["value"],
                ).alias("root"),
                F.struct("tag", "guid", "target_type", "flat", "attrs", "payloads").alias(
                    "t"
                ),
            )
        )
        per_tree.append(rows)
    all_rows = per_tree[0]
    for r in per_tree[1:]:
        all_rows = all_rows.unionByName(r)

    # aspect attributes keyed (sep, value), joined per ECAD root
    comp = (
        tgt.withColumn("flat", F.expr(sql_flat_parts("parts", config.separators)))
        .where(F.size("flat") > 0)
        .select(
            F.concat(
                F.try_element_at("flat", F.lit(1))["sep"],
                    F.try_element_at("flat", F.lit(1))["value"],
            ).alias("root"),
            F.explode("flat").alias("c"),
        )
        .select("root", F.col("c.sep").alias("sep"), F.col("c.value").alias("value"))
        .distinct()
    )
    asp_attrs = (
        comp.join(
            attr_rows,
            F.expr(G.sql_aspect_guid("sep", "value")) == F.col("object_guid"),
        )
        .groupBy("root")
        .agg(
            F.collect_list(F.struct("sep", "value", "name", "type", "value_json")).alias(
                "aspect_attrs"
            )
        )
    )

    grouped = (
        all_rows.groupBy("hierarchy", "root")
        .agg(F.collect_list("t").alias("targets"))
        .join(
            asp_attrs.withColumn("hierarchy", F.lit(MAIN_TREE_NAME)),
            ["hierarchy", "root"],
            "left",
        )
    )

    cfg_json = config.to_json_str()

    def serialize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cfg = AspectsConfig.from_json_str(cfg_json)
        for pdf in batches:
            rows = []
            for hierarchy, root, targets, aattrs in zip(
                pdf["hierarchy"], pdf["root"], pdf["targets"], pdf["aspect_attrs"]
            ):
                amap: dict = {}
                if aattrs is not None:
                    for a in aattrs:
                        amap.setdefault((a["sep"], a["value"]), []).append(a)
                counts = {
                    "n_targets": 0,
                    "n_aspects": 0,
                    "n_connections": 0,
                    "n_pins": 0,
                }
                xml = _serialize_group(hierarchy, list(targets), amap, cfg, counts)
                rows.append(
                    (
                        hierarchy,
                        0,
                        root,
                        counts["n_targets"],
                        counts["n_aspects"],
                        counts["n_connections"],
                        counts["n_pins"],
                        0,
                        xml,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "hierarchy",
                    "section",
                    "root",
                    "n_targets",
                    "n_aspects",
                    "n_connections",
                    "n_pins",
                    "n_links",
                    "xml",
                ],
            )

    fragments = grouped.mapInPandas(serialize, schema=FRAGMENT_SCHEMA)

    # InternalLink fragments live at the tail of the ECAD hierarchy
    # (section=1); bucketed by guid prefix so no single group collects
    # the whole wiring list
    il = internal_links(tables).withColumn("bucket", F.substring("link_guid", 1, 2))
    il_frags = (
        il.groupBy("bucket")
        .agg(
            F.count("*").alias("n_links"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.concat(
                            F.lit('<InternalLink RefPartnerSideA="'),
                            F.col("ref_a"),
                            F.lit('" RefPartnerSideB="'),
                            F.col("ref_b"),
                            F.lit('" Name="ImALink"/>'),
                        )
                    )
                ),
                "",
            ).alias("xml"),
        )
        .select(
            F.lit(MAIN_TREE_NAME).alias("hierarchy"),
            F.lit(1).alias("section"),
            F.col("bucket").alias("root"),
            F.lit(0).alias("n_targets"),
            F.lit(0).alias("n_aspects"),
            F.lit(0).alias("n_connections"),
            F.lit(0).alias("n_pins"),
            F.col("n_links").cast("int").alias("n_links"),
            "xml",
        )
    )
    return fragments.unionByName(il_frags)


def _hierarchy_order(config: AspectsConfig) -> list[str]:
    """Global InstanceHierarchy order: ECAD first, then one tree per
    distinct aspect type in config order (aml_builder.py:382-393)."""
    order = [MAIN_TREE_NAME]
    for l in config.levels:
        cap = l.aspect.lower().capitalize()
        if cap not in order:
            order.append(cap)
    return order


def _hierarchy_pos(config: AspectsConfig):
    """A fragment's stitch position: the index of its ``hierarchy`` in
    ``_hierarchy_order``, NULL for a hierarchy the config does not name
    (try_element_at: plain element_at would fail the job under ANSI
    mode)."""
    order = _hierarchy_order(config)
    pos = F.create_map(*[x for i, h in enumerate(order) for x in (F.lit(h), F.lit(i))])
    return F.try_element_at(pos, F.col("hierarchy"))


def _caex_header(file_name: str, timestamp: str) -> list[str]:
    return [
        '<?xml version="1.0" encoding="utf-8"?>',
        '<CAEXFile xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance" '
        'xmlns="http://www.dke.de/CAEX" SchemaVersion="3.0" '
        f'FileName={quoteattr(file_name)} '
        'xsi:schemaLocation="http://www.dke.de/CAEX CAEX_ClassModel_V.3.0.xsd">',
        "<SuperiorStandardVersion>AutomationML 2.10</SuperiorStandardVersion>",
        '<SourceDocumentInformation OriginName="indu-doc-transformer-spark" '
        f'OriginVersion="0.0.0" OriginURL="" LastWritingDateTime="{timestamp}"/>',
    ]


def write_aml_fragments(
    fragments: DataFrame,
    out_dir: str,
    config: AspectsConfig = DEFAULT_ASPECTS,
) -> None:
    """Distributed AML export (the 100-TB path): fragment bodies are
    written as a parquet table partitioned by hierarchy — no driver
    collect anywhere — plus a tiny one-row-per-(hierarchy, section)
    index table carrying the global stitch order (h_order from the
    config), fragment counts, and content stats. A downstream consumer
    produces the CAEX file by streaming partitions in index order
    (``stitch_aml_to`` over the read-back ``aml_fragments`` table); the
    fragment table itself is the queryable export surface."""
    import os

    spark = fragments.sparkSession
    frag_path = os.path.join(out_dir, "aml_fragments")
    fragments.write.mode("overwrite").partitionBy("hierarchy").parquet(frag_path)
    # index from the *written* table: one cheap scan, no recompute of
    # the serialize pass
    written = spark.read.parquet(frag_path)
    idx = (
        written.groupBy("hierarchy", "section")
        .agg(
            F.count("*").alias("n_fragments"),
            F.sum("n_targets").cast("long").alias("n_targets"),
            F.sum("n_aspects").cast("long").alias("n_aspects"),
            F.sum("n_connections").cast("long").alias("n_connections"),
            F.sum("n_pins").cast("long").alias("n_pins"),
            F.sum("n_links").cast("long").alias("n_links"),
            F.sum(F.length("xml")).cast("long").alias("xml_chars"),
        )
        # a hierarchy absent from this config has no stitch position
        # (the stitcher skips it)
        .withColumn("h_order", _hierarchy_pos(config))
    )
    idx.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "aml_index")
    )


def stitch_aml_to(
    fragments: DataFrame,
    sink,
    config: AspectsConfig = DEFAULT_ASPECTS,
    file_name: str = "export.aml",
    timestamp: str = "1970-01-01T00:00:00+00:00",
) -> str:
    """Stitch the complete CAEX document (aml_abstractions.py:204-246
    CAEXFile) from ``fragments`` into ``sink`` — a path or a file-like
    object with ``write(str)`` — and return the md5 hex of the written
    text (utf-8). The timestamp is a parameter so the output is
    deterministic.

    One ordered scan: fragments flow through ``toLocalIterator`` in
    (``_hierarchy_pos``, section, root) order and are written as they
    arrive, so driver memory is bounded by one arrow batch, not the
    document. Every hierarchy of ``_hierarchy_order`` is emitted, empty
    or not; fragments of a hierarchy the config does not name are
    skipped. The scan is one SQL execution, so a persisted frame with a
    large plan pays its plan rendering once, not once per hierarchy."""
    import hashlib
    import os

    f = sink
    close = False
    if isinstance(sink, (str, os.PathLike)):
        f = open(sink, "w", encoding="utf-8")
        close = True
    md5 = hashlib.md5()

    def emit(s: str) -> None:
        f.write(s)
        md5.update(s.encode("utf-8"))

    order = _hierarchy_order(config)
    opened = 0

    def open_through(h: int) -> None:
        # open hierarchy h, closing the previous one and emitting any
        # empty hierarchy between them
        nonlocal opened
        while opened <= h:
            if opened:
                emit("</InstanceHierarchy>")
            emit(f"<InstanceHierarchy Name={quoteattr(order[opened])}><Version>0.0.1</Version>")
            opened += 1

    rows = (
        fragments.select(_hierarchy_pos(config).alias("h"), "section", "root", "xml")
        .where(F.col("h").isNotNull())
        .orderBy("h", "section", "root")
    )
    try:
        for piece in _caex_header(file_name, timestamp):
            emit(piece)
        for r in rows.toLocalIterator():
            open_through(r.h)
            emit(r.xml)
        open_through(len(order) - 1)
        emit("</InstanceHierarchy>")
        emit("</CAEXFile>")
    finally:
        if close:
            f.close()
    return md5.hexdigest()


def aml_file_xml(
    fragments: DataFrame,
    config: AspectsConfig = DEFAULT_ASPECTS,
    file_name: str = "export.aml",
    timestamp: str = "1970-01-01T00:00:00+00:00",
) -> str:
    """``stitch_aml_to`` into a string (tests, small exports): driver
    memory is O(document) by definition here; the scale path is
    ``stitch_aml_to`` with a file sink."""
    buf = io.StringIO()
    stitch_aml_to(fragments, buf, config, file_name, timestamp)
    return buf.getvalue()
