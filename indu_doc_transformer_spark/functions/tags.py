"""The tag grammar (tag.py:340-400) as Spark SQL text.

Builders in the style of the ``sql_*`` GUID templates
(functions/guids.py): arguments and results are SQL expressions, and
the text interpolates constants only (the config's separators and the
whitespace set, quoted with ``_q``), never row data.
kernels/tagparse.py is the reference-pinned oracle; tests/test_tagparse.py
pins these builders equal to it.

- Separators: one ``\\Q…\\E`` alternation, longest first like
  ``tagparse._sep_pattern``. ``regexp_extract_all`` lists the matches
  in order and ``split(.., -1)`` the slices around them, so n matches
  give n + 1 slices, the first being the text before the first match.
- Strip: ``trim(BOTH <WHITESPACE> FROM x)`` equals ``str.strip()``;
  bare ``trim`` strips only spaces.
- Lambda variables are ``_``-prefixed so they never shadow a column
  that the argument expression names.
"""

from __future__ import annotations

from ..config import AspectsConfig

# every code point c with c.isspace(), i.e. what str.strip() removes
WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002\u2003\u2004"
    "\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)


def _q(s: str) -> str:
    """SQL string literal for a constant."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _strip(expr: str) -> str:
    return f"trim(BOTH {_q(WHITESPACE)} FROM {expr})"


def _tokens(s: str, separators) -> tuple[str, str]:
    """(the separator matches of ``s`` in order, the slices around them)."""
    ordered = sorted(separators, key=len, reverse=True)
    alt = "|".join("\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E" for sep in ordered)
    return f"regexp_extract_all({s}, {_q(f'({alt})')}, 1)", f"split({s}, {_q(alt)}, -1)"


def sql_tag_parts(expr: str, config: AspectsConfig) -> str:
    """map<separator, array<value>> of ``tagparse.tag_parts``: the pin
    is cut off, the parsed parts extended with empty arrays for every
    level of higher priority than the lowest one present (all levels
    for an empty tag); an empty map for an unparseable tag."""
    seps = f"array({', '.join(map(_q, config.separators))})"
    tag = _strip(f"substring_index(coalesce({expr}, ''), ':', 1)")
    found, slices = _tokens(tag, config.separators)
    # the head slice pairs with NULL, which no separator equals
    pairs = (
        f"cast(arrays_zip(concat(array(NULL), {found}), {slices})"
        " as array<struct<sep:string,value:string>>)"
    )
    # how many config levels the map holds: none when text precedes the
    # first separator, else down to the lowest-priority one found, all
    # of them when none is found (the empty tag)
    levels = (
        f"CASE WHEN try_element_at({slices}, 1) = '' THEN cast(coalesce("
        f"array_max(transform({found}, _s -> array_position({seps}, _s))),"
        f" {len(config.separators)}) as int) ELSE 0 END"
    )
    return (
        f"map_from_entries(transform(slice({seps}, 1, {levels}), _l -> struct(_l,"
        f" transform(filter({pairs}, _p -> _p.sep = _l), _p -> {_strip('_p.value')}))))"
    )


def sql_single_aspect(expr: str, separators) -> str:
    """struct<sep, value, status> of create_aspect's raw parse
    (god.py:302-340): status 0 for exactly one separator with one value,
    1 for an unparseable or empty tag, 2 for a composite one."""
    found, slices = _tokens(_strip(f"coalesce({expr}, '')"), separators)

    def aspect(sep: str, value: str, status: int) -> str:
        return f"named_struct('sep', {sep}, 'value', {value}, 'status', {status})"

    none = "cast(NULL as string)"
    return (
        f"CASE WHEN size({found}) = 0 OR try_element_at({slices}, 1) != ''"
        f" THEN {aspect(none, none, 1)} WHEN size({found}) > 1 THEN {aspect(none, none, 2)}"
        f" ELSE {aspect(f'try_element_at({found}, 1)', _strip(f'try_element_at({slices}, 2)'), 0)}"
        " END"
    )


def sql_flat_parts(parts: str, separators) -> str:
    """A parts map as array<struct<sep, value>> in ``separators`` order;
    an empty level contributes the empty value, an absent one nothing
    (the xtarget_aspects enumeration, db_builder/db.py:222-240)."""

    def entries(sep: str) -> str:
        vals = f"try_element_at({parts}, {_q(sep)})"
        return (
            f"coalesce(transform(CASE WHEN size({vals}) = 0 THEN array('') ELSE {vals} END,"
            f" _v -> struct({_q(sep)} AS sep, _v AS value)),"
            " cast(array() as array<struct<sep:string,value:string>>))"
        )

    return f"flatten(array({', '.join(map(entries, separators))}))"
