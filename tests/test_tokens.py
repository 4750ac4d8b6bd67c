"""The tokenization core (kernels/tokens.py), without a Spark session:
its two contracts on the shared adversarial cases, and the rule that no
other module compiles its own whitespace tokenizer."""

import pathlib
import re

import pytest

from indu_doc_transformer_spark.kernels import tokens
from token_cases import TOKEN_CASES

PACKAGE = pathlib.Path(tokens.__file__).resolve().parents[1]
CASES = [c for c in TOKEN_CASES if c[0] is not None]


@pytest.mark.parametrize("text,split,collapse", CASES)
def test_contracts_on_shared_cases(text, split, collapse):
    assert tokens.split_tokens(text) == split
    assert tokens.collapse_tokens(text) == collapse


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
