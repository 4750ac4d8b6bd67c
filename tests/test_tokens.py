"""The tokenization core (kernels/tokens.py), without a Spark session:
its two contracts on the shared adversarial cases, the DuckDB oracle
fragments that mirror them, and the rule that no other module compiles
its own whitespace tokenizer."""

import pathlib
import re

import duckdb
import pytest

from indu_doc_transformer_spark.kernels import tokens
from token_cases import TOKEN_CASES

PACKAGE = pathlib.Path(tokens.__file__).resolve().parents[1]
CASES = [c for c in TOKEN_CASES if c[0] is not None]


@pytest.mark.parametrize("text,split,collapse", CASES)
def test_contracts_on_shared_cases(text, split, collapse):
    assert tokens.split_tokens(text) == split
    assert tokens.collapse_tokens(text) == collapse


# DuckDB lower() maps İ to plain i (Java and Python: i + U+0307) and
# never emits final ς, so these cases differ in case mapping, not in
# whitespace; strict, so a fix shows up as XPASS
_DUCKDB_LOWER_GAP = pytest.mark.xfail(
    strict=True, reason="DuckDB lower() differs on U+0130 and final sigma"
)
DUCKDB_CASES = [
    pytest.param(*c, marks=_DUCKDB_LOWER_GAP) if any(ch in c[0] for ch in "\u0130\u03a3")
    else c
    for c in CASES
]


@pytest.mark.parametrize("text,split,collapse", DUCKDB_CASES)
def test_duckdb_fragments_match_contracts(text, split, collapse):
    """The oracle SQL's _TOKS/_NORM fragments give the contracts' tokens."""
    import __spark_entry__ as entry

    con = duckdb.connect()
    toks, norm = con.execute(
        f"SELECT {entry._TOKS}, regexp_split_to_array({entry._NORM}, ' ')"
        " FROM (SELECT ?::VARCHAR AS text)",
        [text],
    ).fetchone()
    assert toks == tokens.split_tokens(text)
    assert norm == tokens.collapse_tokens(text)


@pytest.mark.parametrize(
    "text", [c[0] for c in CASES if any(ch in c[0] for ch in "\u000b\u00a0\u3000")]
)
def test_duckdb_token_count_and_fingerprint_match_spark_twins(text):
    """The inline oracle expressions built on the shared fragments: the
    token count (textstats.ws_token_count, size(split(trim(c), \\s+)))
    and the first-30-characters fingerprint (md5(norm_text(substring(
    text, 1, 30)))), on the rows whose whitespace DuckDB's bare trim and
    RE2's \\s treat differently from Spark."""
    import hashlib

    import __spark_entry__ as entry

    con = duckdb.connect()
    n, fp = con.execute(
        f"SELECT {entry._NTOKS}, md5({entry._norm('substr(text,1,30)')})"
        " FROM (SELECT ?::VARCHAR AS text)",
        [text],
    ).fetchone()
    assert n == len(tokens.split_tokens(text))
    head = " ".join(tokens.collapse_tokens(text[:30]))
    assert fp == hashlib.md5(head.encode("utf-8")).hexdigest()


def test_ngrams_windows():
    toks = ["a", "b", "c", "d"]
    assert list(tokens.ngrams(toks, 2)) == ["a b", "b c", "c d"]
    assert list(tokens.ngrams(toks, 4)) == ["a b c d"]
    assert list(tokens.ngrams(toks, 5)) == []
    assert list(tokens.ngrams([""], 1)) == [""]


def test_whitespace_tokenizer_compiled_only_in_tokens():
    pattern = re.compile(r"""re\.compile\(\s*r?["']\\s\+""")
    offenders = [
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if p.name != "tokens.py" and pattern.search(p.read_text())
    ]
    assert offenders == []
    assert pattern.search(pathlib.Path(tokens.__file__).read_text())
