"""Golden-string tests for the MTEXT cleaner — the 5 reference cases
(DWGReadDev/src/test/java/TestRegexCleaners.java:10-45) verbatim, plus
the F1 newline-collapse golden."""

import pytest

from tika_addons_spark.functions.cleaners import clean_mtext
from tika_addons_spark.functions.normalize import collapse_newlines

GOLDENS = [
    # (input, expected) — TestRegexCleaners.java:10-45
    (
        "\\A1;\\fAIGDT|b0|i0;\\H2.5000;\\ln\\fArial|b0|i0;\\H2.5000;"
        "68{\\H1.3;\\S+0,8^+0,1;}",
        "n68+0,8/+0,1",
    ),
    (
        "the quick \\A1;\\fAIGDT|b0|i0;\\H2.5000; brown fox",
        "the quick  brown fox",
    ),
    (
        "l \\L open cu\\lrly bra\\Kck\\ket \\\\{ and a close \\\\} right?",
        "l  open curly bracket { and a close } right?",
    ),
    (
        "then an actual \\P open curly bracket \\{ and a close \\} right?",
        "then an actual \n open curly bracket { and a close } right?",
    ),
    ("abc \\S+0,8^+0,1; efg", "abc +0,8/+0,1 efg"),
]


@pytest.mark.parametrize("formatted,expected", GOLDENS)
def test_mtext_goldens(formatted, expected):
    assert clean_mtext(formatted) == expected


def test_f1_newline_collapse_exact():
    # TikaEvalDocMapper.java:263-264 — \n+ → \n then trim
    assert collapse_newlines("a\n\n\nb\nc\n") == "a\nb\nc"
    assert collapse_newlines("  \n x \n\n ") == "x"
