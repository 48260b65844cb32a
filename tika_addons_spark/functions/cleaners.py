"""DWG MTEXT markup-code cleaner (SURVEY.md §2.8 F7).

Behavioral parity with the reference's 5-pass regex cascade
(``DWGReadDev/src/test/java/TestRegexCleaners.java:47-108``), whose golden
cases are pinned in tests/test_cleaners.py:

1. strip underline/overstrike/strike toggles ``\\L \\l \\O \\o \\K \\k``
2. strip semicolon-terminated setting codes ``\\A..; \\H..; \\f..;`` etc.
3. ``\\P`` → newline
4. stacked fractions ``\\S a^b;`` → ``a/b``
5. unescaped ``{ }`` dropped, escaped ``\\{ \\}`` kept
6. remaining backslashes removed

Runs of escaped backslashes (``\\\\``) shield the following code from every
pass (the alternation-with-skip idiom in the reference).

Implemented fresh in Python ``re`` with a replacement-function idiom; the
extraction engine reaches it through ``oracle.extract_one`` for every
markup-code turn.
"""

from __future__ import annotations

import re

# Pass 1: escaped-backslash runs OR toggle codes.
_P1 = re.compile(r"((?:\\\\)+|\\[LlOoKk])")
# Pass 2: escaped-backslash runs OR semicolon-terminated setting codes.
_P2 = re.compile(r"((?:\\\\)+|\\(?:A|H|pi|pxt|pxi|X|Q|f|W|C|T)[^;]{0,100};)")
# Pass 3: escaped-backslash runs OR the newline marker \P.
_P3 = re.compile(r"((?:\\\\)+|\\P)")
# Pass 4: escaped-backslash runs OR stacked fraction \S<num><sep><den>;
_P4 = re.compile(r"((?:\\\\)+)|\\S([^/^#]{1,20})[/^#]([^;]{1,20});")
# Pass 5: escaped braces (kept) OR bare braces (dropped).
_P5 = re.compile(r"((?:\\)+[{}])|([{}])")


def clean_mtext(text: str) -> str:
    """Apply the full 5-pass cascade + final backslash strip."""
    t = _P1.sub(lambda m: m.group(1) if m.group(1).endswith("\\") else "", text)
    t = _P2.sub(lambda m: m.group(1) if m.group(1).endswith("\\") else "", t)
    t = _P3.sub(lambda m: "\n" if m.group(1).endswith("P") else m.group(1), t)
    t = _P4.sub(
        lambda m: m.group(1) if m.group(1) else f"{m.group(2)}/{m.group(3)}", t
    )
    t = _P5.sub(lambda m: m.group(1) or "", t)
    return t.replace("\\", "")
