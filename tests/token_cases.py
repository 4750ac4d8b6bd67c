"""Adversarial texts shared by the five kernel-vs-SQL-reference parity
tests (tests/test_operators.py) and the tokenization unit test
(tests/test_tokens.py).

Each case is (text, split-contract tokens, collapse-contract tokens) as
defined in ``kernels/tokens.py``. A ``None`` text is SQL NULL: the
kernels handle it before tokenizing, so it has no token lists.
"""

TOKEN_CASES = [
    # dotted capital I lowers to i + U+0307 (two code points) and
    # dotless ı stays; under a Turkic JVM locale Spark lowers I to ı
    (
        "TİTLE II ıI title TİTLE II ıI title TİTLE II ıI title",
        ["ti\u0307tle", "ii", "ıi", "title"] * 3,
        ["ti\u0307tle", "ii", "ıi", "title"] * 3,
    ),
    # final sigma: Σ lowers to ς at the end of a word, to σ elsewhere
    (
        "ΣΑΣ ΟΔΟΣ Σ σας ΣΑΣ ΟΔΟΣ Σ σας ΣΑΣ ΟΔΟΣ Σ σας",
        ["σας", "οδος", "σ", "σας"] * 3,
        ["σας", "οδος", "σ", "σας"] * 3,
    ),
    # ß has no one-character upper case; capital ẞ lowers to ß
    (
        "Straße STRASSE ẞ groß Straße STRASSE ẞ groß Straße STRASSE ẞ groß",
        ["straße", "strasse", "ß", "groß"] * 3,
        ["straße", "strasse", "ß", "groß"] * 3,
    ),
    # U+00A0 is neither Java/re.ASCII \s nor stripped by Spark trim
    (
        "\u00a0no break space and\u00a0glued no break space and\u00a0glued",
        ["\u00a0no", "break", "space", "and\u00a0glued"]
        + ["no", "break", "space", "and\u00a0glued"],
        ["\u00a0no", "break", "space", "and\u00a0glued"]
        + ["no", "break", "space", "and\u00a0glued"],
    ),
    # trailing U+3000 (str.strip() would remove it)
    (
        "ideographic space trails ideographic space trails\u3000",
        ["ideographic", "space", "trails", "ideographic", "space", "trails\u3000"],
        ["ideographic", "space", "trails", "ideographic", "space", "trails\u3000"],
    ),
    # leading U+001C (str.strip() would remove it; DuckDB trim keeps it)
    (
        "\u001cfile separator leads file separator leads",
        ["\u001cfile", "separator", "leads", "file", "separator", "leads"],
        ["\u001cfile", "separator", "leads", "file", "separator", "leads"],
    ),
    (None, None, None),
    ("", [""], [""]),
    # trim strips U+0020 only: split keeps a leading empty token,
    # collapse turns the tab into a space first and strips it
    (
        "\tleading tab then words leading tab then words",
        ["", "leading", "tab", "then", "words", "leading", "tab", "then", "words"],
        ["leading", "tab", "then", "words", "leading", "tab", "then", "words"],
    ),
    # U+000B is Java and re.ASCII \s (RE2's \s misses it); Spark trim
    # keeps it, so split yields empty edge tokens
    (
        "\u000bvertical tab\u000bsplits vertical tab splits\u000b",
        ["", "vertical", "tab", "splits", "vertical", "tab", "splits", ""],
        ["vertical", "tab", "splits", "vertical", "tab", "splits"],
    ),
]

