"""Deterministic boilerplate-stripping HTML→text extraction.

The north rule's per-row invariant is BYTE-IDENTICAL extracted text per
url versus the pinned single-node extractor — so the single-node
function `extract_text_py` IS the specification, and the Spark stage
`extract_text` is the same function written as one Catalyst expression
chain (regexp_replace/replace/trim over `make_valid_utf8(cast(html AS
string))`). No Python runs per row: the chain fuses into the
mention-regex codegen stage, and no Python worker is started.

The extractor is trafilatura-*equivalent* in role, not implementation
(trafilatura is not installable here — SURVEY.md §7.1): it removes
script/style/nav/header/footer subtrees, strips tags, unescapes the
core entities, and canonicalizes whitespace to newline-joined
non-empty lines. Deterministic: pure string→string, no config, no
randomness, no date. A NULL html gives NULL text.

Python `re` and Java regex differ in what `\\s`, `\\w`/`\\b`,
case-insensitive letters and `$` mean, so the two spellings are kept
equal by construction (pinned by a differential test):
  * tag names match ASCII case-insensitively on both sides (`re.ASCII`
    here, Java's `(?i)` without `u`), as HTML itself compares tag
    names; `\\b` after a tag name is `(?![A-Za-z0-9_])`, and `\\s`
    inside tags is the six ASCII spaces both dialects share;
  * `str.strip()` per line is spelled with an explicit class of the 29
    code points Python's `isspace()` accepts, and the per-line regexes
    run under `(?md)` so `\\n` is the only line terminator;
  * bytes decode with `errors="replace"` (one U+FFFD per maximal
    invalid subsequence), which `make_valid_utf8` reproduces.

Scale: the output column prunes `html` away right after this stage, so
downstream stages shuffle only text-sized rows.
"""

from __future__ import annotations

import re
import sys

from pyspark.sql import DataFrame

from kgforge.session import sql_str

_DROP_BLOCKS = re.compile(
    r"<(head|script|style|nav|header|footer)\b[^>]*>.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL | re.ASCII,
)
_BLOCK_BREAKS = re.compile(r"</(p|div|h[1-6]|li|tr|br)\s*>|<br\s*/?>", re.IGNORECASE | re.ASCII)
_TAGS = re.compile(r"<[^>]+>")
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last, so &amp;lt; doesn't double-decode
]


def extract_text_py(html: bytes | str | None) -> str | None:
    """The pinned single-node reference extractor (specification)."""
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace") if isinstance(html, (bytes, bytearray)) else html
    s = _DROP_BLOCKS.sub(" ", s)
    # block-level tags become line breaks so adjacent text doesn't fuse
    s = _BLOCK_BREAKS.sub("\n", s)
    s = _TAGS.sub(" ", s)
    for src, dst in _ENTITIES:
        s = s.replace(src, dst)
    lines = [re.sub(r"[ \t\r\f\v]+", " ", ln).strip() for ln in s.split("\n")]
    return "\n".join(ln for ln in lines if ln != "")


def _java_class(chars: str) -> str:
    """A Java regex character class holding exactly `chars`."""
    cps = sorted(map(ord, chars))
    runs: list[list[int]] = []
    for c in cps:
        if runs and c == runs[-1][1] + 1:
            runs[-1][1] = c
        else:
            runs.append([c, c])
    return "[" + "".join(
        f"\\x{{{lo:x}}}" if lo == hi else f"\\x{{{lo:x}}}-\\x{{{hi:x}}}" for lo, hi in runs
    ) + "]"


# what `str.strip()` removes inside one line: Python's isspace() set
# (29 code points, where Java's \s has 6) less the line separator
_LINE_SPACE = _java_class(
    "".join(chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace() and c != 0x0A)
)
_ASCII_SPACE = r"[ \t\n\x0B\f\r]"  # Python's \s under re.ASCII


def _extract_sql(html_col: str) -> str:
    """`extract_text_py` as one SQL expression over column `html_col`."""

    def sub(expr: str, pattern: str, repl: str) -> str:
        return f"regexp_replace({expr}, {sql_str(pattern)}, {sql_str(repl)})"

    s = f"make_valid_utf8(CAST(`{html_col}` AS STRING))"
    s = sub(
        s,
        r"(?is)<(head|script|style|nav|header|footer)(?![A-Za-z0-9_])[^>]*>.*?</\1"
        + _ASCII_SPACE + "*>",
        " ",
    )
    s = sub(s, rf"(?i)</(?:p|div|h[1-6]|li|tr|br){_ASCII_SPACE}*>|<br{_ASCII_SPACE}*/?>", "\n")
    s = sub(s, "<[^>]+>", " ")
    for src, dst in _ENTITIES:
        s = f"replace({s}, {sql_str(src)}, {sql_str(dst)})"
    # per line: collapse [ \t\r\f\v] runs, strip, then drop empty lines
    s = sub(s, r"[ \t\r\f\x0B]+", " ")
    s = sub(s, rf"(?md)^{_LINE_SPACE}++|(?<!{_LINE_SPACE}){_LINE_SPACE}++$", "")
    s = sub(s, r"\n\n+", "\n")
    return f"trim(BOTH {sql_str(chr(10))} FROM {s})"


def extract_text(df: DataFrame, html_col: str = "html", out_col: str = "text_extracted") -> DataFrame:
    """web_pages → + extracted text column. `html_col` may be binary
    (UTF-8 bytes) or string."""
    return df.selectExpr("*", f"{_extract_sql(html_col)} AS `{out_col}`")
