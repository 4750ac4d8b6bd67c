"""Content-hash GUIDs as native Spark SQL expressions.

The reference assigns every entity a deterministic GUID =
str(uuid.UUID(bytes=md5(content))) (xtarget.py:141-154 and friends).
Because the GUID is a pure function of content, FK assignment needs no
join — both sides just hash (SURVEY.md J4, 'join elimination'). These
helpers keep that property *inside whole-stage codegen*: everything is
md5/concat/regexp, no Python in the hot path.

The Connection/Link/Pin GUIDs reproduce the reference's ``list += str``
quirk (characters of an embedded GUID joined by ':') via
``sql_charjoin``. Exact parity is pinned by tests against
kernels/tagparse.py, which is itself pinned against the reference.

The entity GUIDs are SQL string templates (``sql_*`` and the four
``*_attribute_guid``; arguments and result are SQL expressions), used
by the SQL-text request and finisher layers of operators/assembly.py
and, through ``F.expr``, by the Column-DSL callers (aml, search,
sqlite_sink).
``md5_uuid`` is the one Column function: it hashes Column-DSL
expressions (``textstats.fingerprint``, the driver queries).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_md5_uuid(expr: str) -> str:
    """SQL template: md5 hex digest formatted 8-4-4-4-12.

    Nested zero-length overlays instead of concat-of-substrings: the
    old form repeated ``md5(expr)`` FIVE times in the tree, and
    common-subexpression elimination does not reach inside interpreted
    higher-order-function lambdas (where these templates mostly run —
    pin chains, attribute arrays), so every GUID paid 5 md5 digests.
    The overlay chain references the digest once (measured ~1.8x on a
    2M-guid transform; byte-identical output incl. NULL propagation)."""
    h = f"md5({expr})"
    return (
        f"overlay(overlay(overlay(overlay({h} placing '-' from 9 for 0)"
        f" placing '-' from 14 for 0) placing '-' from 19 for 0)"
        f" placing '-' from 24 for 0)"
    )


def sql_charjoin(expr: str) -> str:
    """SQL template: ':'.join(characters of expr). ``(?s)``: '.' also
    matches line terminators, which a pin name may hold."""
    return f"array_join(regexp_extract_all({expr}, '(?s).', 0), ':')"


def sql_guid_charjoin(expr: str) -> str:
    """``sql_charjoin`` for GUID/hex/keyword inputs ONLY: one lookaround
    regexp_replace instead of per-character extract_all + array_join
    (measured 3.4x; the finisher runs several of these per row).
    Equivalent to sql_charjoin only when the input holds no line
    terminator (the lookarounds' '.' does not match one, so no ':' is
    put next to it) — true for md5_uuid outputs (hex + dashes) and role
    literals; user-data inputs (pin names) must keep sql_charjoin."""
    return f"regexp_replace({expr}, '(?<=.)(?=.)', ':')"


def md5_uuid(col: Column) -> Column:
    # Single-digest formatting via nested zero-length overlays (see
    # sql_md5_uuid): the concat-of-substrings form repeated the md5
    # subtree 5x, and CSE does not apply inside interpreted HOF
    # lambdas (_simple_attrs et al. hash per attribute entry). NULL
    # input still propagates to a NULL GUID (overlay is null-strict).
    h = F.md5(col)
    dash = F.lit("-")
    out = F.overlay(h, dash, F.lit(9), F.lit(0))
    out = F.overlay(out, dash, F.lit(14), F.lit(0))
    out = F.overlay(out, dash, F.lit(19), F.lit(0))
    return F.overlay(out, dash, F.lit(24), F.lit(0))


def sql_xtarget_guid(tag: str) -> str:
    """xtarget.py:141-154: md5-uuid of the tag string."""
    return sql_md5_uuid(tag)


def sql_aspect_guid(separator: str, value: str) -> str:
    """tag.py:61-75: md5-uuid of 'sep+value'."""
    return sql_md5_uuid(f"concat({separator}, {value})")


def _sql_or_none(guid: str, none: str) -> str:
    """A GUID's charjoin, or the ``none`` sentinel for a NULL GUID."""
    return f"CASE WHEN {guid} IS NULL THEN '{none}' ELSE {sql_guid_charjoin(guid)} END"


def sql_connection_guid(src_guid: str, dst_guid: str, through_guid: str) -> str:
    """connection.py:359-372 (char-explosion quirk; None -> sentinel)."""
    return sql_md5_uuid(
        f"concat('CONN:', {_sql_or_none(src_guid, 'SRC:None')}, ':',"
        f" {_sql_or_none(dst_guid, 'DEST:None')}, ':',"
        f" {_sql_or_none(through_guid, 'THROUGH:None')})"
    )


def sql_link_guid(name: str, src_pin: str, dst_pin: str, conn_guid: str) -> str:
    """connection.py:233-247. Pin names are user data (they may hold
    line terminators), so they keep ``sql_charjoin``."""

    def pin(p: str, role: str) -> str:
        joined = sql_charjoin(f"concat('{role}:', {p})")
        return f"CASE WHEN {p} IS NULL OR {p} = '' THEN '{role}:None' ELSE {joined} END"

    return sql_md5_uuid(
        f"concat('LINK:', {name}, ':', {pin(src_pin, 'SRC')}, ':', {pin(dst_pin, 'DEST')},"
        f" ':', {_sql_or_none(conn_guid, 'PARENT:None')})"
    )


def sql_pin_chain(pin_col: str, role: str, link_guid_col: str) -> str:
    """Expand a ':PIN1:PIN2' pin tag into its chain of pin rows with
    recursively defined GUIDs (connection.py:93-106, god.py:398-422).

    Pure SQL higher-order fold: the chain is built child-first
    (reversed), each step hashing the previous element's GUID. Returns
    array<struct<guid,name,role,child_guid,link_guid>>.
    """
    prev_guid = "if(size(acc)=0, null, acc[size(acc)-1].guid)"
    # role is a 'src'/'dst' literal and the other two are md5_uuid
    # outputs -> the GUID-safe charjoin applies to all three
    pin_guid = sql_md5_uuid(
        "concat('PIN:', nm, ':', "
        + sql_guid_charjoin(f"'{role}'")
        + ", ':', "
        + f"coalesce({sql_guid_charjoin(prev_guid)}, 'CHILD:None')"
        + ", ':', "
        + sql_guid_charjoin(link_guid_col)
        + ")"
    )
    return f"""
        aggregate(
          reverse(slice(split({pin_col}, ':'), 2, 100000)),
          cast(array() as array<struct<guid:string,name:string,role:string,child_guid:string,link_guid:string>>),
          (acc, nm) -> array_append(acc, struct(
              {pin_guid} as guid,
              nm as name,
              '{role}' as role,
              {prev_guid} as child_guid,
              {link_guid_col} as link_guid))
        )
        """


def sql_top_pin(pin_col: str, role: str, link_guid_col: str) -> str:
    """The head pin of a link's pin chain, the struct the reference
    stores as ``link.src_pin``/``dest_pin`` (god.py:553-560): the pin
    built last by the reversed loop, i.e. the last element of the
    child-first ``sql_pin_chain`` fold. It is the one pin of that link
    and role that no other pin names as its child. Assembled pin
    columns are ':'-prefixed, so their chain is never empty; a NULL
    pin column, or one with no ':' (a foreign SQLite file), has no head
    pin and gives NULL (``try_element_at``: ``element_at`` on the empty
    chain would fail the job under ANSI mode)."""
    return f"try_element_at({sql_pin_chain(pin_col, role, link_guid_col)}, -1)"


def simple_attribute_guid(name: str, value: str) -> str:
    """attributes.py:252-259."""
    return sql_md5_uuid(f"concat({name}, ':', {value})")


def routing_tracks_attribute_guid(name: str, tracks: str) -> str:
    """attributes.py:373-381 — tracks array sorted then ';'-joined."""
    return sql_md5_uuid(f"concat({name}, ':', array_join(array_sort({tracks}), ';'))")


def plc_address_attribute_guid(address: str, meta: str) -> str:
    """attributes.py:492-500 — sorted 'k=v' pairs ';'-joined.

    ``meta`` is a map<string,string>; array_sort on the entries array
    sorts by key first, matching Python's sorted(dict.items()).
    """
    kv = f"transform(array_sort(map_entries({meta})), kv -> concat(kv.key, '=', kv.value))"
    return sql_md5_uuid(f"concat({address}, ':', array_join({kv}, ';'))")


def pdf_location_attribute_guid(page_no: str, loc_repr: str) -> str:
    """attributes.py:623-630 — 'location:{page_no}:{bbox tuple repr}'.

    loc_repr is the Python-tuple repr emitted by the kernel
    (kernels/tagparse.pdf_location_repr) so the hash input is
    byte-identical to the reference."""
    return sql_md5_uuid(f"concat('location:', cast({page_no} as string), ':', {loc_repr})")
