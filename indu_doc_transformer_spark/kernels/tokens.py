"""The two whitespace-tokenization contracts of the Arrow text kernels,
and their n-gram windows — the only Python implementation of either.

Each contract is bit-identical to a Spark SQL twin that the DuckDB
oracles mirror:

- split (``split_tokens``): ``split(lower(trim(c)), '\\s+')``, i.e.
  ``textstats._tokens``. Empty tokens are kept: a leading tab yields a
  leading ``''``, and ``''`` yields ``['']``.
- collapse (``collapse_tokens``): ``split(norm_text(c), ' ')``, i.e.
  ``lower(trim(regexp_replace(c, '\\s+', ' ')))`` split on one space.

Spark ``trim`` strips U+0020 only, so both strip ``" "`` and never
``str.strip()``'s Unicode whitespace (U+00A0, U+3000, U+001C stay in
the first or last token). Java's ``\\s`` is the six-character ASCII
class, which is ``re.ASCII`` ``\\s``. ``str.lower`` equals Spark
``lower`` only under a non-Turkic JVM locale, which
``plans.session.get_spark`` pins.
"""

from __future__ import annotations

import re

_WS = re.compile(r"\s+", re.ASCII)


def split_tokens(text: str) -> list[str]:
    return _WS.split(text.strip(" ").lower())


def collapse_tokens(text: str) -> list[str]:
    return _WS.sub(" ", text).strip(" ").lower().split(" ")


def ngrams(toks: list[str], n: int):
    """The ``" ".join`` of every n-token window, in order (SQL
    ``array_join(slice(toks, i, n), ' ')`` for i in 1..size-n+1); none
    when there are fewer than n tokens."""
    return (" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))
