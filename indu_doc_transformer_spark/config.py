"""Config-driven dynamic schema: aspect separators and per-page-type
region/table setups.

Mirrors the semantics of the reference's config layer
(/root/reference/src/indu_doc/configs.py:29-203 AspectsConfig;
/root/reference/src/indu_doc/plugins/eplan_pdfs/page_settings.py:9-59
TableSetup/PageSetup/PageSettings) without porting its code: ours are
plain frozen dataclasses that broadcast cheaply to executors and
serialize to/from JSON.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Optional


@dataclass(frozen=True)
class AspectLevel:
    """One hierarchical tag level: a separator and its aspect name.

    Reference: configs.py:14-26 (LevelConfig).
    """

    separator: str
    aspect: str


class AspectsConfig:
    """Ordered separator->aspect configuration.

    Order defines priority: earlier separators are higher priority
    (reference: configs.py:29-147). Parsing always matches the longest
    separator first (handled by the tokenizer, see kernels/tagparse.py).
    """

    def __init__(self, levels: list[AspectLevel]):
        self.levels: list[AspectLevel] = list(levels)
        self._sep_index = {l.separator: i for i, l in enumerate(self.levels)}

    @property
    def separators(self) -> list[str]:
        return [l.separator for l in self.levels]

    @property
    def aspects(self) -> list[str]:
        return [l.aspect for l in self.levels]

    def index_of(self, sep: str) -> int:
        return self._sep_index[sep]

    def separator_ge(self, others) -> list[str]:
        """All separators covering levels up to the lowest-priority
        separator present in ``others`` (reference: configs.py:131-147)."""
        ours = self.separators
        others = [o for o in others if o in self._sep_index]
        if not others:
            return ours
        lowest = max(self._sep_index[o] for o in others)
        return ours[: lowest + 1]

    @classmethod
    def from_list(cls, config_list: list[dict]) -> "AspectsConfig":
        return cls([AspectLevel(separator=d["Separator"], aspect=d["Aspect"]) for d in config_list])

    @classmethod
    def from_json_str(cls, json_str: str) -> "AspectsConfig":
        return cls.from_list(json.loads(json_str).get("aspects", []))

    def to_json_str(self) -> str:
        return json.dumps(
            {"aspects": [{"Separator": l.separator, "Aspect": l.aspect} for l in self.levels]}
        )

    def __eq__(self, other) -> bool:
        return isinstance(other, AspectsConfig) and self.levels == other.levels


# Same default level set as the reference (configs.py:195-203).
DEFAULT_ASPECTS = AspectsConfig.from_list(
    [
        {"Aspect": "Functional", "Separator": "="},
        {"Aspect": "Location", "Separator": "+"},
        {"Aspect": "Product", "Separator": "-"},
        {"Aspect": "Pin", "Separator": ":"},
        {"Aspect": "Subdivision", "Separator": "/"},
        {"Aspect": "Document", "Separator": "&"},
    ]
)


@dataclass(frozen=True)
class RegionSetup:
    """Extraction setup for one named region of a page.

    Semantics mirror the reference's TableSetup
    (page_settings.py:9-32): configured column names overwrite the
    detected header; ``columns`` maps name -> (include, ffill_placeholder
    or None); ``row_offset`` promotes (>0) / demotes (-1) the header;
    ``text_only`` regions yield a single scalar cell.
    """

    columns: tuple[tuple[str, bool, Optional[str]], ...] = ()
    key_columns: tuple[tuple[str, str], ...] = ()  # column -> semantic role
    text_only: bool = False
    row_offset: int = 0
    expected_num_tables: int = 1
    on_many_no_header: bool = False
    overlap_test: bool = False

    @property
    def column_names(self) -> list[str]:
        return [c[0] for c in self.columns]

    @property
    def included_columns(self) -> list[str]:
        return [c[0] for c in self.columns if c[1]]

    @property
    def ffill_map(self) -> dict[str, str]:
        return {c[0]: c[2] for c in self.columns if c[2] is not None}


@dataclass(frozen=True)
class PageSetup:
    """All regions of one page type plus its classifier search name.

    Reference: page_settings.py:26-32 (PageSetup) + search-name matching
    in common_page_utils.py:47-70.
    """

    search_name: str
    regions: tuple[tuple[str, RegionSetup], ...]
    description: str = ""

    def region(self, name: str) -> RegionSetup:
        for k, v in self.regions:
            if k == name:
                return v
        raise KeyError(name)

    @property
    def region_names(self) -> list[str]:
        return [k for k, _ in self.regions]


def _cols(*specs) -> tuple[tuple[str, bool, Optional[str]], ...]:
    """spec: name | (name, include) | (name, include, ffill_placeholder)."""
    out = []
    for s in specs:
        if isinstance(s, str):
            out.append((s, True, None))
        elif len(s) == 2:
            out.append((s[0], s[1], None))
        else:
            out.append(tuple(s))
    return tuple(out)


# ---------------------------------------------------------------------------
# The nine page types of the reference's shipped page_settings.json,
# recast for the synthetic web corpus. Column sets follow
# /root/repo/FIXTURES.md section 4 (derived from page_settings.json).
# ---------------------------------------------------------------------------

PAGE_SETUPS: dict[str, PageSetup] = {
    "connection_list": PageSetup(
        search_name="connection list",
        regions=(
            (
                "main",
                RegionSetup(
                    columns=_cols(
                        "name", "src_pin_tag", "dst_pin_tag", "Color", "Cross-section"
                    ),
                    key_columns=(
                        ("src_pin_tag", "src_pin_tag"),
                        ("dst_pin_tag", "dst_pin_tag"),
                    ),
                ),
            ),
        ),
    ),
    "device_tag_list": PageSetup(
        search_name="device tag list",
        regions=(
            (
                "main",
                RegionSetup(
                    columns=_cols(
                        "tag",
                        "Quantity",
                        "Designation",
                        "Type number",
                        "Manufacturer",
                        "Part number",
                    ),
                    key_columns=(("tag", "tag"),),
                ),
            ),
        ),
    ),
    "cable_overview": PageSetup(
        search_name="Cable overview",
        regions=(
            (
                "main",
                RegionSetup(
                    columns=_cols(
                        ("cable_tag", True, ""),
                        "src_tag",
                        "dst_tag",
                        "Cable type",
                        "Conductors",
                        "Cross-section",
                        "Length",
                        "Function text",
                    ),
                    key_columns=(
                        ("cable_tag", "cable_tag"),
                        ("src_tag", "src_tag"),
                        ("dst_tag", "dst_tag"),
                    ),
                ),
            ),
        ),
    ),
    "topology": PageSetup(
        search_name="Topology: Routed cables / connections",
        regions=(
            (
                "main",
                RegionSetup(
                    columns=_cols(
                        "designation",
                        "Part number",
                        "Type number",
                        "Length [m]",
                        "src_tags",
                        "Source connection length [m]",
                        "route",
                        "dst_tags",
                        "Target connection length [m]",
                    ),
                    key_columns=(
                        ("designation", "designation"),
                        ("src_tags", "src_tags"),
                        ("dst_tags", "dst_tags"),
                        ("route", "route"),
                    ),
                ),
            ),
        ),
    ),
    "wires_part_list": PageSetup(
        search_name="Wires parts list",
        regions=(
            (
                "main",
                RegionSetup(
                    columns=_cols(
                        "src_pin_tag",
                        "dst_pin_tag",
                        "Part number",
                        "Cross-section",
                        "Color",
                        "Length",
                        "Bundle",
                        "Conductor end source",
                        "Conductor end target",
                        "route",
                    ),
                    key_columns=(
                        ("src_pin_tag", "src_pin_tag"),
                        ("dst_pin_tag", "dst_pin_tag"),
                        ("route", "route"),
                    ),
                ),
            ),
        ),
    ),
    "cable_diagram": PageSetup(
        search_name="Cable diagram",
        regions=(
            (
                "main",
                RegionSetup(
                    columns=_cols(
                        ("Function text Src", True, "="),
                        ("Page / Column Src", False),
                        "src_tag",
                        "src_pin",
                        "Conductor",
                        "dst_tag",
                        "dst_pin",
                        ("Page / Column Dst", False),
                        ("Function text Dst", True, "="),
                    ),
                    key_columns=(
                        ("src_tag", "src_tag"),
                        ("src_pin", "src_pin"),
                        ("dst_tag", "dst_tag"),
                        ("dst_pin", "dst_pin"),
                    ),
                ),
            ),
        ),
    ),
    "terminal_diagram": PageSetup(
        search_name="Terminal diagram",
        regions=(
            (
                "main",
                RegionSetup(
                    columns=_cols(
                        "src_tag",
                        "src_pin",
                        "strip_pin",
                        "Jumpers",
                        "PLC connection point",
                        "dst_tag",
                        "dst_pin",
                    ),
                    overlap_test=True,
                ),
            ),
            (
                "l_cables",
                RegionSetup(
                    columns=_cols("cable_tag", ("ign1", False), ("ign2", False)),
                    row_offset=-1,
                ),
            ),
            (
                "l_conn",
                RegionSetup(
                    columns=_cols(
                        "1", "2", "3", "4", "5", "6", "Function text", ("Page / column", False)
                    ),
                ),
            ),
            (
                "r_cables",
                RegionSetup(
                    columns=_cols("cable_tag", ("ign1", False), ("ign2", False)),
                    row_offset=-1,
                ),
            ),
            (
                "r_conn",
                RegionSetup(
                    columns=_cols(
                        "1", "2", "3", "4", "5", "6", "Function text", ("Page / column", False)
                    ),
                ),
            ),
            ("strip_tag", RegionSetup(text_only=True)),
        ),
    ),
    "structure_identifier_overview": PageSetup(
        search_name="Structure identifier overview",
        regions=(
            (
                "main",
                RegionSetup(
                    columns=_cols("tag", "Structure description"),
                    key_columns=(("tag", "tag"),),
                ),
            ),
        ),
    ),
    "plc_diagram": PageSetup(
        search_name="PLC diagram",
        regions=(
            (
                "main",
                RegionSetup(
                    columns=_cols(
                        ("tag", True, ""),
                        "plc_addr",
                        "Placement",
                        ("Function text", True, "="),
                        "Rack",
                        "Module",
                        "Symbolic address",
                        "Terminal",
                    ),
                    key_columns=(("tag", "tag"), ("plc_addr", "plc_addr")),
                ),
            ),
        ),
    ),
}

# German search-name aliases mapping to the same handlers
# (reference: common_page_utils.py:38-42 DEVICE_LIST_DE etc.).
SEARCH_ALIASES: dict[str, str] = {
    "artikelstückliste": "device_tag_list",
    "kabelübersicht": "cable_overview",
    "klemmenplan": "terminal_diagram",
}


def page_setups_to_json(setups: dict[str, PageSetup]) -> str:
    """Serialize page setups (the reference's PageSettings.to_json
    analog, page_settings.py:88-90) so extraction configs can ship as
    data instead of code."""
    out = {}
    for name, ps in setups.items():
        out[name] = {
            "search_name": ps.search_name,
            "description": ps.description,
            "regions": {
                rname: {
                    "columns": [list(c) for c in rs.columns],
                    "key_columns": [list(k) for k in rs.key_columns],
                    "text_only": rs.text_only,
                    "row_offset": rs.row_offset,
                    "expected_num_tables": rs.expected_num_tables,
                    "on_many_no_header": rs.on_many_no_header,
                    "overlap_test": rs.overlap_test,
                }
                for rname, rs in ps.regions
            },
        }
    return json.dumps(out, indent=1, ensure_ascii=False)


def page_setups_from_json(s: str) -> dict[str, PageSetup]:
    """Inverse of page_setups_to_json (page_settings.py:92-102)."""
    data = json.loads(s)
    out = {}
    for name, ps in data.items():
        regions = tuple(
            (
                rname,
                RegionSetup(
                    columns=tuple(tuple(c) for c in rv["columns"]),
                    key_columns=tuple(tuple(k) for k in rv["key_columns"]),
                    text_only=rv["text_only"],
                    row_offset=rv["row_offset"],
                    expected_num_tables=rv["expected_num_tables"],
                    on_many_no_header=rv["on_many_no_header"],
                    overlap_test=rv["overlap_test"],
                ),
            )
            for rname, rv in ps["regions"].items()
        )
        out[name] = PageSetup(
            search_name=ps["search_name"],
            description=ps["description"],
            regions=regions,
        )
    return out


def classifier_map() -> dict[str, str]:
    """search string (lower) -> page_type key."""
    m = {v.search_name.strip().lower(): k for k, v in PAGE_SETUPS.items()}
    m.update({k.strip().lower(): v for k, v in SEARCH_ALIASES.items()})
    return m
